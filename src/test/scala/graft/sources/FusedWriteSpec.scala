package graft.sources

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one-action table write: per-file stats read from parquet footers
  * instead of a read-back aggregate, constraints checked on the write's
  * own action, and the copy-on-write change set written without a
  * probe. */
class FusedWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_fused").toString + "/t"

  private def dim(rows: (Int, String, Long)*): DataFrame =
    rows.toSeq.toDF("k", "name", "amt")

  private def rowsOf(df: DataFrame): Set[(Int, String, Long)] =
    df.select("k", "name", "amt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  // ---- footer stats against the read-back aggregate ---------------------

  /** The stats aggregate `writeData` ran before footer stats: one
    * group-by-file pass over the written files, min/max in the
    * canonical domain, and a null count per column. */
  private def canon(name: String, dt: DataType): Column = dt match {
    case DateType => unix_date(col(name))
    case TimestampType => unix_micros(col(name))
    case ByteType | ShortType | IntegerType | LongType =>
      col(name).cast("long")
    case FloatType => col(name).cast("double")
    case _ => col(name)
  }

  private def encode(v: Any): String = v match {
    case d: java.math.BigDecimal => d.toString
    case x => x.toString
  }

  private def referenceStats(root: String, schema: StructType,
      entries: Seq[VersionedTable.FileEntry])
      : Map[String, (Long, Map[String, VersionedTable.ColStats])] = {
    val aggs = count(lit(1)) +: schema.fields.toSeq.flatMap { sf =>
      val c = canon(sf.name, sf.dataType)
      Seq(min(c), max(c), sum(when(col(sf.name).isNull, 1L).otherwise(0L)))
    }
    spark.read.schema(schema)
      .parquet(entries.map(e => new Path(root, e.rel).toString): _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        new Path(r.getString(0)).getName -> (r.getLong(1),
          schema.fields.zipWithIndex.map { case (sf, i) =>
            sf.name -> VersionedTable.ColStats(
              Option(r.get(2 + i * 3)).map(encode),
              Option(r.get(3 + i * 3)).map(encode), r.getLong(4 + i * 3))
          }.toMap)
      }.toMap
  }

  /** A bound in the order it is compared in; None = undecodable (NaN),
    * which prunes nothing. */
  private def domain(s: String, dt: DataType): Option[Any] = dt match {
    case StringType => Some(s.getBytes("UTF-8").toSeq.map(_ & 0xff))
    case BooleanType => Some(if (s.toBoolean) 1 else 0)
    case FloatType | DoubleType =>
      Some(s.toDouble).filterNot(d => d.isNaN || d.isInfinite)
        .map(d => BigDecimal(d))
    case _ => Some(BigDecimal(s))
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: Int, y: Int) => x.compare(y)
    case (x: Seq[Int @unchecked], y: Seq[Int @unchecked]) =>
      x.zip(y).map { case (p, q) => p.compare(q) }.find(_ != 0)
        .getOrElse(x.size.compare(y.size))
    case _ => sys.error(s"incomparable $a, $b")
  }

  /** None when the footer entry is the reference's or strictly wider,
    * else why it is narrower. */
  private def narrower(dt: DataType, foot: Option[VersionedTable.ColStats],
      ref: VersionedTable.ColStats): Option[String] = foot match {
    case None => None // no stats: never prunes, the widest there is
    case Some(f) if f.nulls != ref.nulls =>
      Some(s"null count ${f.nulls} != ${ref.nulls}")
    case Some(f) => (ref.min, ref.max) match {
      case (None, None) =>
        if (f.min.isEmpty && f.max.isEmpty) None
        else Some(s"bounds $f on an all-null column")
      case (Some(rMn), Some(rMx)) =>
        (f.min, f.max) match {
          case (Some(fMn), Some(fMx)) =>
            def tooHigh(fv: String, rv: String, sign: Int) =
              (domain(fv, dt), domain(rv, dt)) match {
                case (None, _) => false // footer undecodable: no prune
                case (Some(_), None) => true // reference could not prune
                case (Some(x), Some(y)) => sign * cmp(x, y) > 0
              }
            if (tooHigh(fMn, rMn, 1)) Some(s"min $fMn above $rMn")
            else if (tooHigh(fMx, rMx, -1)) Some(s"max $fMx below $rMx")
            else None
          case _ => Some(s"footer says all-null, reference $ref")
        }
      case _ => Some(s"unexpected reference $ref")
    }
  }

  private val statsSchema = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("str", StringType), StructField("bool", BooleanType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("dec9", DecimalType(9, 2)),
    StructField("dec18", DecimalType(18, 4)),
    StructField("dec30", DecimalType(30, 6)),
    StructField("allnull", LongType)))

  /** `n` rows of every stats dtype: nulls, NaN, ±0.0, infinities, empty
    * and multi-KB strings, extreme integrals, and a column that is
    * always NULL. */
  private def generated(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def maybe(a: => Any): Any = if (rnd.nextInt(6) == 0) null else a
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    (0 until n).map { _ =>
      Row(
        maybe(pick(Byte.MinValue, Byte.MaxValue, rnd.nextInt(256).toByte)),
        maybe(pick(Short.MinValue, Short.MaxValue, rnd.nextInt(1000).toShort)),
        maybe(pick(Int.MinValue, Int.MaxValue, rnd.nextInt())),
        maybe(pick(Long.MinValue, Long.MaxValue, rnd.nextLong())),
        maybe(pick(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
          rnd.nextFloat() * 100 - 50, rnd.nextFloat())),
        maybe(pick(Double.NaN, -0.0, 0.0, Double.NegativeInfinity,
          rnd.nextGaussian() * 1e6, rnd.nextDouble())),
        maybe(pick("", "a", "zzé", "😀x", "￿",
          "k" * 3000, "m" * 5000, rnd.alphanumeric.take(8).mkString)),
        maybe(rnd.nextBoolean()),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          rnd.nextInt(40000) - 20000L))),
        maybe(new java.sql.Timestamp(rnd.nextLong() % 4000000000000L)),
        maybe(new java.math.BigDecimal(java.math.BigInteger.valueOf(
          rnd.nextInt(1999999999) - 999999999L), 2)),
        maybe(new java.math.BigDecimal(java.math.BigInteger.valueOf(
          rnd.nextLong() % 999999999999999999L), 4)),
        maybe(new java.math.BigDecimal(new java.math.BigInteger(96, rnd.self)
          .multiply(java.math.BigInteger.valueOf(pick(1L, -1L))), 6)),
        null)
    }
  }

  test("footer stats equal the read-back aggregate or are strictly wider") {
    var (equal, wider) = (0, 0)
    (1L to 6L).foreach { seed =>
      val root = freshRoot()
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(generated(seed, 120), 4),
        statsSchema)
      val entries = VersionedTable.writeData(spark, root, df)
      assert(entries.size >= 2, s"seed $seed wrote ${entries.size} file(s)")
      val ref = referenceStats(root, statsSchema, entries)
      assert(ref.keySet == entries.map(e => new Path(e.rel).getName).toSet)
      entries.foreach { e =>
        val (rows, refStats) = ref(new Path(e.rel).getName)
        assert(e.rows == rows, s"seed $seed ${e.rel}")
        assert(e.stats.keySet.subsetOf(refStats.keySet))
        statsSchema.fields.foreach { sf =>
          val foot = e.stats.get(sf.name)
          narrower(sf.dataType, foot, refStats(sf.name)).foreach(why =>
            fail(s"seed $seed ${e.rel} column ${sf.name}: $why"))
          if (foot.contains(refStats(sf.name))) equal += 1 else wider += 1
        }
      }
    }
    info(s"$equal column stats equal, $wider wider")
    assert(equal > wider, "footer stats should mostly equal the aggregate")
  }

  test("a timestamp column keeps exact stats and prunes") {
    val root = freshRoot()
    val ts = (0 until 40).map(i =>
      (i, java.sql.Timestamp.valueOf(s"2024-01-${1 + i % 20} 10:00:00")))
    VersionedTable.create(spark, root,
      ts.toDF("k", "t").repartitionByRange(4, col("t")))
    val m = VersionedTable.snapshot(spark, root)
    val ref = referenceStats(root, m.schema, m.files)
    m.files.foreach { e =>
      assert(e.stats == ref(new Path(e.rel).getName)._2, e.rel)
    }
    val (kept, total) = VersionedTable.pruneProfile(spark, root,
      col("t") === lit(java.sql.Timestamp.valueOf("2024-01-02 10:00:00")))
    assert(total == 4 && kept == 1, s"$kept of $total")
  }

  test("an empty write leaves no data directory and no entries") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 1L)))
    val dataDirs = new java.io.File(s"$root/data").list().toSet
    assert(VersionedTable.writeData(spark, root, dim().limit(0)).isEmpty)
    assert(new java.io.File(s"$root/data").list().toSet == dataDirs)
  }

  // ---- constraints on the fused write -----------------------------------

  private def dirsUnder(root: String, sub: String): Set[String] =
    Option(new java.io.File(s"$root/$sub").list()).map(_.toSet)
      .getOrElse(Set.empty)

  test("a CHECK violation refuses the fused write, publishes nothing and " +
      "leaves no directory") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1, "a", 10L), (2, "b", 20L), (3, "c", 30L), (4, "d", 40L))
        .repartitionByRange(2, col("k")))
    VersionedTable.addConstraint(spark, root, "amt_pos", "amt >= 0")
    val head = VersionedTable.headVersion(spark, root)
    val (data0, changes0) = (dirsUnder(root, "data"), dirsUnder(root, "changes"))
    Seq[(String, () => Long)](
      "append" -> (() =>
        VersionedTable.append(spark, root, dim((9, "x", -1L), (8, "y", 1L)))),
      "merge/upsert rewrite" -> (() =>
        VersionedTable.merge(spark, root, dim((1, "a", -5L)), Seq("k"),
          cdf = true)),
      "copy-on-write rewrite" -> (() =>
        VersionedTable.updateWhere(spark, root, col("k") === 2,
          Map("amt" -> lit(-7L)), cdf = true))
    ).foreach { case (context, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage == s"requirement failed: $context: 1 row(s) " +
        "violate CHECK constraint 'amt_pos' (amt >= 0) — nothing was " +
        "committed")
      assert(VersionedTable.headVersion(spark, root) == head, context)
      assert(dirsUnder(root, "data") == data0, context)
      assert(dirsUnder(root, "changes") == changes0, context)
    }
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L), (4, "d", 40L)))
    // passing writes through the same tap commit, empty ones included:
    // an empty append, a delete that empties a file, and a merge that
    // deletes every row of the other
    VersionedTable.merge(spark, root, dim((1, "a", 11L)), Seq("k"), cdf = true)
    VersionedTable.append(spark, root, dim().limit(0))
    VersionedTable.deleteWhere(spark, root, col("k") <= 2, cdf = true)
    VersionedTable.merge(spark, root, dim((3, "c", 0L), (4, "d", 0L)),
      Seq("k"), deleteMatched = true, insertUnmatched = false, cdf = true)
    assert(VersionedTable.headVersion(spark, root) == head + 4)
    assert(VersionedTable.read(spark, root).isEmpty)
    assert(VersionedTable.fileCount(spark, root) == 0)
  }

  test("a crash between the fused write and the publish leaves only " +
      "orphan directories, which vacuum sweeps") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    VersionedTable.addConstraint(spark, root, "amt_pos", "amt >= 0")
    val head = VersionedTable.headVersion(spark, root)
    val before = rowsOf(VersionedTable.read(spark, root))
    val (data0, changes0) = (dirsUnder(root, "data"), dirsUnder(root, "changes"))
    // the committer dies after its files are written: the version it
    // would publish is held by a lock no manifest ever follows
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      s"$root/_manifests/v${"%020d".format(head + 1)}.lock"))
    intercept[VersionedTable.CommitConflict] {
      VersionedTable.append(spark, root, dim((3, "c", 30L)))
    }
    intercept[VersionedTable.CommitConflict] {
      VersionedTable.merge(spark, root, dim((1, "a", 11L)), Seq("k"),
        cdf = true)
    }
    assert(VersionedTable.headVersion(spark, root) == head)
    assert(rowsOf(VersionedTable.read(spark, root)) == before)
    val orphans = dirsUnder(root, "data") -- data0
    assert(orphans.size == 2, orphans)
    assert((dirsUnder(root, "changes") -- changes0).size == 1)
    VersionedTable.recover(spark, root)
    VersionedTable.vacuum(spark, root, keepFrom = head, orphanGraceMs = -1000L)
    assert(dirsUnder(root, "data") == data0)
    assert(dirsUnder(root, "changes") == changes0)
    assert(rowsOf(VersionedTable.read(spark, root)) == before)
    VersionedTable.append(spark, root, dim((3, "c", 30L)))
    assert(rowsOf(VersionedTable.read(spark, root)) == before + ((3, "c", 30L)))
  }

  // ---- the change set ---------------------------------------------------

  test("changeDiff replicates a row of multiplicity 100,000 exactly like " +
      "exceptAll") {
    val before = spark.range(100000)
      .select(lit(1).as("k"), lit("x").as("name"), lit(5L).as("amt"))
      .unionByName(dim((2, "b", 2L), (2, "b", 2L), (4, null, 4L)))
    val after = dim((2, "b", 2L), (3, "c", 3L), (3, "c", 3L))
    val diff = VersionedTable.changeDiff(before, after).cache()
    def counted(df: DataFrame): Set[Row] =
      df.groupBy("k", "name", "amt").count().collect().toSet
    try {
      val deletes = diff.filter(col("_change_type") === "delete")
        .drop("_change_type")
      val inserts = diff.filter(col("_change_type") === "insert")
        .drop("_change_type")
      assert(deletes.count() == 100002)
      assert(counted(deletes) == counted(before.exceptAll(after)))
      assert(counted(inserts) == counted(after.exceptAll(before)))
      assert(diff.count() == 100004)
    } finally { diff.unpersist(); () }
  }
}
