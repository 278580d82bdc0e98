package graft.dag

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import graft.TestSpark
import graft.ir._
import graft.ir.Component._

/** File source/sink edge cases: quoting, custom separators, append mode. */
class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ctx = new PipelineContext(spark,
    n => sys.error(s"no table $n"), (_, _, _) => (), mutable.Map.empty)

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType)))
  private val tricky = spark.createDataFrame(java.util.List.of(
    Row(1, "plain"), Row(2, "has,comma"), Row(3, "has\"quote"),
    Row(4, "has|pipe")), schema)

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_io_$tag")
    d.toFile.deleteOnExit(); d.toString + "/data"
  }

  test("csv round-trip preserves quoted separators and quotes") {
    val path = tmpDir("csvq")
    tricky.createOrReplaceTempView("tricky_src")
    DataFlowExec.run(DataFlow("w", Seq(
      SourceQuery("src", "SELECT * FROM tricky_src"),
      FileDestination("dst", path, "csv", WriteMode.Overwrite,
        Map("header" -> "true"))),
      Seq(Path("src", "dst"))), ctx)
    val back = DataFlowExec.run(DataFlow("r", Seq(
      SourceCsv("src", path, Map("header" -> "true"), Some("id INT, s STRING"))),
      Nil), ctx)("src.out")
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "plain"), (2, "has,comma"), (3, "has\"quote"), (4, "has|pipe")))
  }

  test("csv custom separator") {
    val path = tmpDir("csvsep")
    tricky.createOrReplaceTempView("tricky_src")
    DataFlowExec.run(DataFlow("w", Seq(
      SourceQuery("src", "SELECT * FROM tricky_src"),
      FileDestination("dst", path, "csv", WriteMode.Overwrite,
        Map("header" -> "true", "sep" -> "|"))),
      Seq(Path("src", "dst"))), ctx)
    val back = DataFlowExec.run(DataFlow("r", Seq(
      SourceCsv("src", path, Map("header" -> "true", "sep" -> "|"),
        Some("id INT, s STRING"))),
      Nil), ctx)("src.out")
    assert(back.count() == 4)
    assert(back.filter(back("s") === "has|pipe").count() == 1)
  }

  test("excel round-trip: types, nulls, XML-hostile strings") {
    val path = tmpDir("xlsx") + "/t.xlsx"
    val s2 = StructType(Seq(StructField("id", IntegerType),
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("b", BooleanType)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1, "a<b&c>\"d\"", 1.5, true),
      Row(2, null, null, false),
      Row(3, "  spaced  ", -2.25, null)), s2)
    df.createOrReplaceTempView("xlsx_src")
    DataFlowExec.run(DataFlow("w", Seq(
      SourceQuery("src", "SELECT * FROM xlsx_src"),
      ExcelDestination("dst", path)),
      Seq(Path("src", "dst"))), ctx)
    val back = DataFlowExec.run(DataFlow("r", Seq(
      SourceExcel("src", path,
        schemaDdl = Some("id INT, s STRING, d DOUBLE, b BOOLEAN"))),
      Nil), ctx)("src.out")
    val got = back.collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(got == Set(
      (1, "a<b&c>\"d\"", 1.5, true),
      (2, null, null, false),
      (3, "  spaced  ", -2.25, null)))
  }

  test("excel reader handles cells without the optional @r attribute") {
    // legal OOXML: cells may omit r= and sit sequentially after the
    // previous cell — build such a sheet by hand
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_nor")
    dir.toFile.deleteOnExit()
    val path = dir.toString + "/nor.xlsx"
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>""" +
      // header row with refs; data rows WITHOUT @r (sequential), one
      // mixing a ref'd cell (C2) after two ref-less cells
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>""" +
      """<row><c><v>1</v></c><c><v>2</v></c><c r="C2"><v>3</v></c></row>""" +
      """<row><c><v>4</v></c><c><v>5</v></c><c><v>6</v></c></row>""" +
      "</sheetData></worksheet>")
    zos.close()
    val df = graft.sources.Excel.read(spark, path,
      schemaDdl = Some("a INT, b INT, c INT"))
    assert(df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet ==
      Set((1, 2, 3), (4, 5, 6)))
  }

  test("excel writer refuses an over-grid frame without collecting it all") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_cap")
    dir.toFile.deleteOnExit()
    // 100M-row lazy frame: the guard must bound the collect (limit to
    // the grid cap) and refuse — an unbounded collect here would OOM
    val big = spark.range(100L * 1000 * 1000).toDF("id")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Excel.write(big, dir.toString + "/cap.xlsx")
    }
    assert(e.getMessage.contains("grid caps"))
  }

  test("rest source: JSONPath navigation over a file:// payload") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rest")
    dir.toFile.deleteOnExit()
    val nested = dir.resolve("nested.json")
    java.nio.file.Files.write(nested,
      """{"meta": {"ok": true}, "data": {"items": [
        |  {"id": 1, "name": "a"}, {"id": 2, "name": "b"}
        |]}}""".stripMargin.getBytes("UTF-8"))
    val df = graft.sources.Rest.read(spark, s"file://$nested",
      "$.data.items[*]", Some("id INT, name STRING"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))

    // top-level array: leading [*] is identity over pre-exploded rows
    val arr = dir.resolve("arr.json")
    java.nio.file.Files.write(arr,
      """[{"id": 10}, {"id": 20}]""".getBytes("UTF-8"))
    val df2 = graft.sources.Rest.read(spark, arr.toString, "$[*]")
    assert(df2.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 20L))

    // zero-egress build: http URLs must fail loudly, not misread
    val ex = intercept[RuntimeException] {
      graft.sources.Rest.read(spark, "http://example.invalid/x.json", "$")
    }
    assert(ex.getMessage.contains("zero egress"))

    // authority-form file URL: file://localhost/p resolves to /p (a
    // naive stripPrefix would produce the relative path "localhost/p")
    val df3 = graft.sources.Rest.read(spark, s"file://localhost$arr", "$[*]")
    assert(df3.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    // non-local authority is an error, not a silent misread
    val exAuth = intercept[Exception] {
      graft.sources.Rest.read(spark, s"file://remotehost$arr", "$[*]")
    }
    assert(exAuth.getMessage.contains("authority"))

    // leading [*] over a top-level OBJECT is a path error, not identity
    val exObj = intercept[RuntimeException] {
      graft.sources.Rest.read(spark, nested.toString, "$[*]")
    }
    assert(exObj.getMessage.contains("top-level"))
  }

  test("xml round-trip via built-in datasource") {
    val path = tmpDir("xml")
    tricky.createOrReplaceTempView("tricky_src")
    DataFlowExec.run(DataFlow("w", Seq(
      SourceQuery("src", "SELECT * FROM tricky_src"),
      FileDestination("dst", path, "xml", WriteMode.Overwrite,
        Map("rowTag" -> "rec"))),
      Seq(Path("src", "dst"))), ctx)
    val back = DataFlowExec.run(DataFlow("r", Seq(
      SourceXml("src", path, rowTag = "rec", schemaDdl = Some("id INT, s STRING"))),
      Nil), ctx)("src.out")
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "plain"), (2, "has,comma"), (3, "has\"quote"), (4, "has|pipe")))
  }

  test("export/import column round-trip through per-row files") {
    val base = tmpDir("expimp")
    tricky.createOrReplaceTempView("tricky_src")
    val out = DataFlowExec.run(DataFlow("f", Seq(
      SourceQuery("src", "SELECT id, s, " +
        s"concat('$base/row_', id, '.bin') AS fpath FROM tricky_src"),
      ExportColumn("exp", pathColumn = "fpath", contentColumn = "s"),
      ImportColumn("imp", pathColumn = "fpath", contentColumn = "content",
        baseDir = base)),
      Seq(Path("src", "exp"), Path("exp", "imp"))), ctx)("imp.out")
    val got = out.selectExpr("id", "decode(content, 'UTF-8')")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "plain"), (2, "has,comma"),
      (3, "has\"quote"), (4, "has|pipe")))
    assert(new java.io.File(s"$base/row_2.bin").exists())
  }

  test("cache transform feeds a downstream lookup via refSql") {
    val base = spark.range(1, 6).selectExpr("id", "id * 10 AS tens")
    base.createOrReplaceTempView("cache_src")
    val out = DataFlowExec.run(DataFlow("f", Seq(
      SourceQuery("ref", "SELECT id AS k, tens FROM cache_src"),
      CacheTransform("ct", cacheName = "my_cache"),
      TrashDestination("trash"),
      SourceQuery("stream", "SELECT id FROM cache_src WHERE id <= 3"),
      Lookup("lk", refTable = "", joinKeys = Seq("id" -> "k"),
        copyColumns = Seq("tens" -> "tens"),
        refSql = Some("SELECT * FROM my_cache"))),
      Seq(Path("ref", "ct"), Path("ct", "trash"),
        // data-less ordering edge: the cache-name dependency is
        // invisible to the topo sort without it
        Path("ct", "lk", toPort = "cache"),
        Path("stream", "lk"))), ctx)("lk.out")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("a cache transform's view stays readable by a later data flow of the package") {
    // an SSIS cache connection manager lives for the package: a Lookup
    // in a later data flow task reads what an earlier one cached, after
    // the earlier flow's own fan-out parents were released
    spark.range(1, 6).selectExpr("id", "id * 10 AS tens")
      .createOrReplaceTempView("cache_src2")
    val c = ctx
    val res = ControlFlowExec.run(PipelineSpec("p",
      tasks = Seq(
        CfTask.DataFlowTask("fill", DataFlow("fill", Seq(
          SourceQuery("ref", "SELECT id AS k, tens FROM cache_src2"),
          CacheTransform("ct", cacheName = "pkg_cache"),
          TrashDestination("trash")),
          Seq(Path("ref", "ct"), Path("ct", "trash")))),
        CfTask.DataFlowTask("use", DataFlow("use", Seq(
          SourceQuery("stream", "SELECT id FROM cache_src2 WHERE id <= 3"),
          Lookup("lk", refTable = "", joinKeys = Seq("id" -> "k"),
            copyColumns = Seq("tens" -> "tens"),
            refSql = Some("SELECT * FROM pkg_cache")),
          RecordsetDestination("rs", "User::Rows")),
          Seq(Path("stream", "lk"), Path("lk", "rs"))))),
      edges = Seq(PrecedenceEdge("fill", "use"))), c)
    assert(res.succeeded("use"), res.statuses)
    assert(c.variables("User::Rows").asInstanceOf[Seq[Row]]
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("error redirection preserves the ORIGINAL value of replaced columns") {
    tricky.createOrReplaceTempView("tricky_src")
    val out = DataFlowExec.run(DataFlow("f", Seq(
      SourceQuery("src",
        "SELECT id, CASE WHEN id % 2 = 0 THEN '41' ELSE s END AS s FROM tricky_src"),
      // replace-in-place: s := (DT_I4)s — odd rows carry non-numeric s
      DerivedColumn("conv", Seq("s" -> "(DT_I4)s"),
        errorOutput = Some("err"))),
      Seq(Path("src", "conv"))), ctx)
    val ok = out("conv.out").selectExpr("id", "s").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(ok == Set((2, 41), (4, 41)))
    val err = out("conv.err").selectExpr("id", "s", "ErrorMessage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2) != null))
    // error port must show the offending ORIGINAL strings, not NULLs
    assert(err.map(e => (e._1, e._2)).toSet == Set((1, "plain"), (3, "has\"quote")))
    assert(err.forall(_._3))
  }

  test("jdbc option shape: partitioned read and batched write configs") {
    import graft.sources.Jdbc
    val conn = Jdbc.ConnectionDef("jdbc:postgresql://host/db",
      "org.postgresql.Driver", Some("u"), Some("p"),
      props = Map("ssl" -> "true"))
    val ro = Jdbc.readOptions(conn, "public.orders",
      Some(Jdbc.JdbcPartitioning("o_orderkey", 0L, 6000000L, 64)),
      fetchSize = 5000)
    assert(ro("url") == "jdbc:postgresql://host/db")
    assert(ro("driver") == "org.postgresql.Driver")
    assert(ro("dbtable") == "public.orders")
    assert(ro("fetchsize") == "5000")
    assert(ro("partitionColumn") == "o_orderkey")
    assert(ro("lowerBound") == "0" && ro("upperBound") == "6000000")
    assert(ro("numPartitions") == "64")
    assert(ro("user") == "u" && ro("password") == "p" && ro("ssl") == "true")
    val wo = Jdbc.writeOptions(conn, "stage.orders", batchSize = 20000)
    assert(wo("batchsize") == "20000" && wo("isolationLevel") == "NONE")
    // wiring is live up to the driver lookup (no jar in this sandbox):
    // the failure names the missing driver class, not a graft error
    val ex = intercept[Throwable] {
      DataFlowExec.run(DataFlow("j", Seq(
        SourceJdbc("src", conn, "public.orders")), Nil), ctx)("src.out")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).map(_.toString).mkString.contains("postgresql"))
  }

  test("parquet append mode accumulates") {
    val path = tmpDir("pqapp")
    tricky.createOrReplaceTempView("tricky_src")
    val flowOnce = (m: WriteMode) => DataFlow("w", Seq(
      SourceQuery("src", "SELECT * FROM tricky_src"),
      FileDestination("dst", path, "parquet", m)),
      Seq(Path("src", "dst")))
    DataFlowExec.run(flowOnce(WriteMode.Overwrite), ctx)
    DataFlowExec.run(flowOnce(WriteMode.Append), ctx)
    val back = DataFlowExec.run(DataFlow("r", Seq(
      SourceParquet("src", path)), Nil), ctx)("src.out")
    assert(back.count() == 8)
  }
}
