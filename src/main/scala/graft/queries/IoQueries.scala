package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ir._
import graft.ir.Component._
import graft.dag.{DataFlowExec, PipelineContext}
import graft.ext.Par

/** File source/sink surface (SURVEY §2.1-2.2): each query round-trips a
  * catalog table through an engine FileDestination and reads it back
  * through the matching engine file source — exercising the writer
  * registry and the readers end-to-end, with the original table as the
  * oracle. CSV reads use explicit schemas: inferSchema is a second full
  * pass over the data, never acceptable at scale.
  */
object IoQueries extends QueryPack {

  private def run(s: SparkSession, dir: String, flow: DataFlow): Map[String, DataFrame] =
    DataFlowExec.run(flow, PipelineContext.overDir(s, dir))

  // anchored under the session's per-run temp warehouse (not a fixed
  // java.io.tmpdir path): concurrent runs on a shared machine get
  // disjoint locations, same fix as q116's IVF index
  private def tmp(s: SparkSession, name: String) = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val whPath =
      if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh
    s"$whPath/graft_io/$name"
  }

  /** Shared churned fixture for the MV family (q178/q180/q181) — one
    * orders/customer pair and ONE union churn timeline instead of
    * three private bases (r14 verdict item 7: the four MV gate queries
    * rebuilt ~36 s of fixtures). Each query still creates its view at
    * the right watermark inside the builder, certifies against its own
    * full recompute, and replays in its own oracle over the same final
    * state. q177 keeps a private lineitem base: its prune cert needs
    * group-key clustering and a narrow-churn refresh window.
    * Memoized per warehouse+dir, so Verify/Bench/PlanAudit pay the
    * build once per JVM; the cascade (mv181a→mv181b) is left
    * UNREFRESHED so q181's entry performs a real refreshAll pass.
    *
    * Timeline — orders O: v1 = orderkey%3!=2 slice; v2 append the
    * rest (mv180 refreshes here: pure insert-only union lane);
    * v3 CDF update price+7 on orderkey%5==0; v4 CDF delete
    * custkey%7==3 (the big retraction delete); v5 CDF delete
    * priority '1-URGENT' (group kill). customer C: v1 = custkey%4!=1;
    * v2 append the rest (their orders join ONLY through the ΔΔ term);
    * v3 CDF delete custkey%10==4 (kills joined groups). */
  private object MvFixture {
    final case class P(orders: String, customer: String, mv178: String,
        mv180: String, mv181a: String, mv181b: String)
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, P]

    def get(s: SparkSession, dir: String): P = cache.getOrElseUpdate(
      s"${s.conf.get("spark.sql.warehouse.dir")}|$dir", build(s, dir))

    private def build(s: SparkSession, dir: String): P = {
      import graft.sources.{MaterializedView, VersionedTable}
      val id = java.util.UUID.randomUUID()
      val p = P(tmp(s, s"vt_mvfix/$id/orders"),
        tmp(s, s"vt_mvfix/$id/customer"), tmp(s, s"vt_mvfix/$id/mv178"),
        tmp(s, s"vt_mvfix/$id/mv180"), tmp(s, s"vt_mvfix/$id/mv181a"),
        tmp(s, s"vt_mvfix/$id/mv181b"))
      val orders = graft.Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        (col("o_custkey") % 10).as("bucket"), col("o_orderpriority"),
        CoreQueries.cents(col("o_totalprice")).as("price_cents"))
      val cust = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      // disjoint-table commits overlap (guide §2.6): the two base
      // creates, then the three root views (all defined at the same
      // initial watermarks, disjoint roots, read-only on the bases);
      // mv181b waits on mv181a (its base)
      Par(() => VersionedTable.create(s, p.orders,
          orders.filter(col("o_orderkey") % 3 =!= 2)), // O v1
        () => VersionedTable.create(s, p.customer,
          cust.filter(col("c_custkey") % 4 =!= 1))) // C v1
      // the views, all defined at the initial watermarks; the join
      // view disambiguates orders' custkey via the persisted rename
      Par(() => MaterializedView.createJoin(s, p.orders, p.customer,
          p.mv178,
          joinKeys = Seq("c_custkey"), keys = Seq("c_nationkey"),
          sums = Seq("price_cents"),
          leftRename = Map("o_custkey" -> "c_custkey")),
        () => MaterializedView.create(s, p.orders, p.mv180,
          keys = Seq("o_orderpriority"), sums = Seq("price_cents"),
          distincts = Seq("o_custkey")),
        () => MaterializedView.create(s, p.orders, p.mv181a,
          keys = Seq("bucket", "o_custkey"), sums = Seq("price_cents"),
          cdf = true))
      MaterializedView.create(s, p.mv181a, p.mv181b,
        keys = Seq("bucket"), sums = Seq("raw_price_cents"))
      // churn
      VersionedTable.append(s, p.orders,
        orders.filter(col("o_orderkey") % 3 === 2)) // O v2
      MaterializedView.refresh(s, p.orders, p.mv180) // union lane only
      // mid-timeline JOIN-VIEW EVOLUTION: advance to (2, 1), then
      // ALTER VIEW ADD a sum column whose backfill aggregates
      // L@2 ⋈ R@1 (the pinned pair — a newer side would double-count
      // on the final refresh); everything below maintains the new
      // column through CDF updates, deletes on both sides, and the
      // ΔΔ window like any create-time column
      MaterializedView.refreshJoin(s, p.orders, p.customer, p.mv178)
      MaterializedView.addColumnsJoin(s, p.orders, p.customer, p.mv178,
        sums = Seq("o_orderkey"))
      // the O and C churn chains touch disjoint tables — overlap the
      // chains, keep each internally ordered (final states unchanged:
      // O at v5, C at v3)
      Par(() => {
        VersionedTable.updateWhere(s, p.orders,
          col("o_orderkey") % 5 === 0,
          Map("price_cents" -> (col("price_cents") + lit(7L))),
          cdf = true) // O v3
        VersionedTable.deleteWhere(s, p.orders,
          col("o_custkey") % 7 === 3, cdf = true) // O v4
        VersionedTable.deleteWhere(s, p.orders,
          col("o_orderpriority") === "1-URGENT", cdf = true) // O v5
      }, () => {
        VersionedTable.append(s, p.customer,
          cust.filter(col("c_custkey") % 4 === 1)) // C v2
        VersionedTable.deleteWhere(s, p.customer,
          col("c_custkey") % 10 === 4, cdf = true) // C v3
      })
      // fold the remaining windows; cascade left for q181's entry
      MaterializedView.refreshJoin(s, p.orders, p.customer, p.mv178)
      MaterializedView.refresh(s, p.orders, p.mv180)
      p
    }
  }

  override val fixtures: Map[String, (SparkSession, String) => Unit] =
    Map("mv_fixture" -> ((s, dir) => { MvFixture.get(s, dir); () }))

  override val fixtureUsers: Map[String, Set[String]] = Map(
    "mv_fixture" -> Set("q178_materialized_join_view",
      "q180_materialized_distinct", "q181_materialized_cascade"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Size-targeted compaction with range clustering: documents
    // rewritten at 100 rows/file sorted by doc_id — the in-query
    // requires certify BOTH layout properties (exact file count, and
    // per-file doc_id ranges DISJOINT, i.e. min/max footer stats can
    // prune every range predicate). The oracle is content identity:
    // compaction must never change the rows.
    "q121_compaction" -> { (s, dir) =>
      val path = tmp(s, "documents_compacted")
      val src = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val files = graft.ops.Scale.compactWrite(src, path,
        targetRowsPerFile = 100L, sortCols = Seq("doc_id"))
      val back = s.read.parquet(path)
      val stats = back.groupBy(input_file_name().as("f"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      require(stats.length == files,
        s"expected $files files, wrote ${stats.length}")
      stats.sliding(2).foreach {
        case Array((_, hi), (lo, _)) =>
          require(hi < lo, s"file ranges overlap: hi=$hi lo=$lo")
        case _ =>
      }
      back.orderBy(col("doc_id"))
    },

    // Z-order (interleaved-bits) compaction: documents rewritten at
    // 100 rows/file clustered on the Morton code of (doc_id, n_chars).
    // The in-query requires certify the layout: exact observed file
    // count, and per-file min/max stats narrow enough on BOTH columns
    // that a bottom-decile range predicate on EITHER dimension skips
    // files — the two-dimensional skipping a single-dim range sort
    // cannot give (every q121 file spans the full n_chars range).
    // The oracle is content identity: clustering never changes rows.
    "q126_zorder_compaction" -> { (s, dir) =>
      val path = tmp(s, "documents_zorder")
      val src = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val files = graft.ops.Scale.compactWriteZ(src, path,
        targetRowsPerFile = 100L, colA = "doc_id", colB = "n_chars")
      val back = s.read.parquet(path)
      val stats = back.groupBy(input_file_name().as("f"))
        .agg(min(col("doc_id")).as("lo_a"), max(col("doc_id")).as("hi_a"),
          min(col("n_chars")).as("lo_b"), max(col("n_chars")).as("hi_b"))
        .collect()
        .map(r => (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
          r.getAs[Number](3).longValue, r.getAs[Number](4).longValue))
      require(stats.length == files,
        s"expected $files files, wrote ${stats.length}")
      // pruning proof needs enough files to have something to skip
      // (sf0.001's 50 rows fit one file, where nothing is prunable)
      if (files >= 4) {
        def pruned(lo: ((Long, Long, Long, Long)) => Long,
            hi: ((Long, Long, Long, Long)) => Long, dim: String): Unit = {
          val (gLo, gHi) = (stats.map(lo).min, stats.map(hi).max)
          val cut = gLo + math.max(1L, (gHi - gLo) / 10)
          val hit = stats.count(st => lo(st) <= cut)
          require(hit < files,
            s"bottom-decile $dim predicate must skip files: $hit of $files hit")
        }
        pruned(_._1, _._2, "doc_id")
        pruned(_._3, _._4, "n_chars")
      }
      back.orderBy(col("doc_id"))
    },

    // CSV write → CSV read (header on, explicit schema on read).
    "q32_csv_roundtrip" -> { (s, dir) =>
      val path = tmp(s, "nation_csv")
      run(s, dir, DataFlow("q32w", Seq(
        SourceTable("src", "nation"),
        FileDestination("dst", path, "csv", WriteMode.Overwrite,
          Map("header" -> "true"))),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q32r", Seq(
        SourceCsv("src", path, Map("header" -> "true"),
          Some("n_nationkey INT, n_name STRING, n_regionkey INT"))),
        Nil))("src.out")
        .orderBy(col("n_nationkey"))
    },

    // JSON write → JSON read (schema pinned: JSON key order is not).
    "q33_json_roundtrip" -> { (s, dir) =>
      val path = tmp(s, "supplier_json")
      run(s, dir, DataFlow("q33w", Seq(
        SourceTable("src", "supplier"),
        FileDestination("dst", path, "json", WriteMode.Overwrite)),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q33r", Seq(
        SourceJson("src", path, Map.empty,
          Some("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"))),
        Nil))("src.out")
        .orderBy(col("s_suppkey"))
    },

    // Flat-file text source: one line per document (corpus has no
    // embedded newlines; lines are unique).
    "q34_text_source" -> { (s, dir) =>
      val path = tmp(s, "documents_text")
      run(s, dir, DataFlow("q34w", Seq(
        SourceTable("src", "documents", columns = Seq("text")),
        FileDestination("dst", path, "text", WriteMode.Overwrite)),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q34r", Seq(
        SourceText("src", path)),
        Nil))("src.out")
        .orderBy(col("value"))
    },

    // Excel write → Excel read through the native OOXML reader/writer.
    "q39_excel_roundtrip" -> { (s, dir) =>
      val path = tmp(s, "region_xlsx/region.xlsx")
      run(s, dir, DataFlow("q39w", Seq(
        SourceTable("src", "region"),
        ExcelDestination("dst", path)),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q39r", Seq(
        SourceExcel("src", path,
          schemaDdl = Some("r_regionkey INT, r_name STRING"))),
        Nil))("src.out")
        .orderBy(col("r_regionkey"))
    },

    // Export Column → Import Column round-trip: each document's text
    // goes to its own file, then comes back as a binary column joined
    // via the distributed binaryFile source.
    "q46_import_export" -> { (s, dir) =>
      val base = tmp(s, "doc_files")
      val flow = DataFlow("q46", Seq(
        SourceTable("src", "documents", columns = Seq("doc_id", "text"),
          filter = Some("doc_id < 200")),
        DerivedColumn("mkpath", Seq("fpath" ->
          s""""$base/doc_" + (DT_WSTR, 20)doc_id + ".txt"""")),
        ExportColumn("export", pathColumn = "fpath", contentColumn = "text"),
        ImportColumn("import", pathColumn = "fpath",
          contentColumn = "content", baseDir = base)),
        Seq(Path("src", "mkpath"), Path("mkpath", "export"),
          Path("export", "import")))
      run(s, dir, flow)("import.out")
        .select(col("doc_id"), decode(col("content"), "UTF-8").as("text2"))
        .orderBy(col("doc_id"))
    },

    // REST/JSON payload source: a nested API-style envelope
    // {"source": ..., "rows": [...]} staged as a file:// fixture, read
    // back through SourceRest with a JSONPath filter — the reference's
    // fetch→JSONPath→frame shape (data_engineering_parser.py:566-577).
    "q53_rest_source" -> { (s, dir) =>
      val payload = graft.Tables.load(s, dir, "nation")
        .agg(to_json(struct(
          lit("nation-api").as("source"),
          collect_list(struct(col("n_nationkey"), col("n_name"),
            col("n_regionkey"))).as("rows"))).as("doc"))
        .head().getString(0)
      val f = new java.io.File(tmp(s, "nation_rest/payload.json"))
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath, payload.getBytes("UTF-8"))
      run(s, dir, DataFlow("q53r", Seq(
        SourceRest("src", s"file://${f.getAbsolutePath}", "$.rows[*]",
          Some("n_nationkey INT, n_name STRING, n_regionkey INT"))),
        Nil))("src.out")
        .orderBy(col("n_nationkey"))
    },

    // REST source over LIVE http: the nation table served as a
    // 3-page Link-header-paginated JSON API by an in-process loopback
    // server, fetched through the production HttpTransport (real
    // sockets, status codes, chunked transfer — zero egress), then
    // JSONPath-navigated and schema-cast exactly like q53. This is the
    // reference's requests.get → Filter → frame path executed for real
    // (enhanced_json_mapper.py:134-152, 1640-1648). Page building
    // collects 3 page documents (O(pages), not O(rows) frames — the
    // fetch side of a REST source is driver-side by nature; parsing
    // stays distributed).
    "q182_rest_http" -> { (s, dir) =>
      val pages = graft.Tables.load(s, dir, "nation")
        .groupBy(floor(col("n_nationkey") / 9).as("pg"))
        .agg(to_json(struct(
          lit("nation-api").as("source"),
          collect_list(struct(col("n_nationkey"), col("n_name"),
            col("n_regionkey"))).as("rows"))).as("doc"))
        .collect().map(r => r.getLong(0).toInt -> r.getString(1)).toMap
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(
          java.net.InetAddress.getLoopbackAddress, 0), 0)
      srv.createContext("/nation",
        (ex: com.sun.net.httpserver.HttpExchange) => try {
          val pg = Option(ex.getRequestURI.getQuery)
            .flatMap(_.split('&').collectFirst {
              case q if q.startsWith("page=") => q.drop(5).toInt
            }).getOrElse(0)
          if (pages.contains(pg + 1)) ex.getResponseHeaders.add("Link",
            s"""</nation?page=${pg + 1}>; rel="next"""")
          val body = pages(pg).getBytes("UTF-8")
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
          ex.getResponseBody.close()
        } finally ex.close())
      srv.start()
      try {
        // through the IR component (the dtsx-visible surface): the
        // executor routes http(s) URLs through HttpTransport. The
        // fetch is EAGER (pages staged before the source returns), so
        // the server can stop right after; the parse side reads the
        // staged files lazily like any other source
        run(s, dir, DataFlow("q182r", Seq(
          SourceRest("src",
            s"http://127.0.0.1:${srv.getAddress.getPort}/nation?page=0",
            "$.rows[*]",
            Some("n_nationkey INT, n_name STRING, n_regionkey INT"))),
          Nil))("src.out")
          .orderBy(col("n_nationkey"))
      } finally srv.stop(0)
    },

    // JDBC write → partitioned JDBC read, LIVE through embedded Derby
    // (the pure-Java driver Spark itself ships): the reference's primary
    // I/O path (enhanced_json_mapper.py:1611-1713 source, :2076-2138
    // sink) under the oracle gate. The read issues 4 parallel range
    // queries on n_nationkey — the mandatory at-scale shape.
    "q70_jdbc_roundtrip" -> { (s, dir) =>
      val conn = graft.sources.Jdbc.derbyMemory("graft_io")
      run(s, dir, DataFlow("q70w", Seq(
        SourceTable("src", "nation"),
        JdbcDestination("dst", conn, "nation_rt", WriteMode.Overwrite)),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q70r", Seq(
        SourceJdbc("src", conn, "nation_rt",
          Some(graft.sources.Jdbc.JdbcPartitioning("n_nationkey", 0, 24, 4)))),
        Nil))("src.out")
        .orderBy(col("n_nationkey"))
    },

    // OLE DB Command escape hatch, LIVE (SURVEY §7.3): a per-row
    // UPDATE-shaped command — the non-MERGE-rewritable stance the
    // reference can only emit as comments (enhanced_json_mapper.py:
    // 2541-2665) — executes as batched JDBC against embedded Derby
    // through PerRowCommand + a registered connection. A supplier
    // slice (suppkey % 3 == 1 — nonempty at sf0.001, unlike any
    // acctbal predicate) fires one parameterized UPDATE per row (batched
    // per partition, capped sessions); the read-back re-uses q70's
    // partitioned-JDBC shape and the oracle replays the update as SQL
    // over the source table. rows_affected lands in the pipeline
    // variables and is pinned in-query.
    "q184_perrow_command" -> { (s, dir) =>
      val conn = graft.sources.Jdbc.derbyMemory("graft_perrow")
      graft.sources.Jdbc.write(
        graft.Tables.load(s, dir, "supplier").select(col("s_suppkey"),
          CoreQueries.cents(col("s_acctbal")).as("cents"),
          lit(0).as("flagged")),
        conn, "supplier_flags", WriteMode.Overwrite)
      val ctx = PipelineContext.overDir(s, dir)
      ctx.connections("DBX_Output") = conn
      val nNeg = DataFlowExec.run(DataFlow("q184w", Seq(
        SourceTable("src", "supplier"),
        ScriptComponent("neg", df => df
          .filter(col("s_suppkey") % 3 === 1) // nonempty at every SF
          .select(lit(1000L).as("bonus_cents"), col("s_suppkey"))),
        // quoted identifiers: Spark's JDBC writer creates columns
        // case-exact, so the raw statement must quote them too
        PerRowCommand("cmd", "DBX_Output",
          """UPDATE supplier_flags SET "flagged" = 1, """ +
            """"cents" = "cents" + ? WHERE "s_suppkey" = ?""",
          paramCols = Seq("bonus_cents", "s_suppkey"),
          stagingTable = "supplier_flags_calls")),
        Seq(Path("src", "neg"), Path("neg", "cmd"))),
        ctx)("cmd.out").count()
      require(ctx.vars("cmd.rows_affected") == nNeg && nNeg > 0,
        s"per-row command must have executed once per slice row: " +
          s"${ctx.vars.get("cmd.rows_affected")} vs $nNeg")
      DataFlowExec.run(DataFlow("q184r", Seq(
        SourceJdbc("src", conn, "supplier_flags",
          Some(graft.sources.Jdbc.JdbcPartitioning("s_suppkey", 0, 24, 4)))),
        Nil), ctx)("src.out")
        .orderBy(col("s_suppkey"))
    },

    // Partitioned-layout round-trip — the 100 TB storage idiom: write
    // documents hive-partitioned by lang, read back ONE partition and
    // prove the layout prunes (the lang filter must surface as a
    // PartitionFilter on the scan, not a post-read Filter — asserted,
    // so a layout regression fails the query, not just a spec).
    "q103_partitioned_layout" -> { (s, dir) =>
      val path = tmp(s, "documents_by_lang")
      run(s, dir, DataFlow("q103w", Seq(
        SourceTable("src", "documents"),
        FileDestination("dst", path, "parquet", WriteMode.Overwrite,
          partitionBy = Seq("lang"))),
        Seq(Path("src", "dst"))))
      val back = run(s, dir, DataFlow("q103r", Seq(
        SourceParquet("src", path)), Nil))("src.out")
        .filter(col("lang") === "en")
      val scan = back.queryExecution.executedPlan.toString
      require("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(scan).isDefined,
        s"lang filter must prune partitions, not scan them:\n$scan")
      back.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // XML write → XML read via Spark's built-in xml datasource.
    "q40_xml_roundtrip" -> { (s, dir) =>
      val path = tmp(s, "nation_xml")
      run(s, dir, DataFlow("q40w", Seq(
        SourceTable("src", "nation"),
        FileDestination("dst", path, "xml", WriteMode.Overwrite,
          Map("rowTag" -> "nation"))),
        Seq(Path("src", "dst"))))
      run(s, dir, DataFlow("q40r", Seq(
        SourceXml("src", path, rowTag = "nation",
          schemaDdl = Some("n_nationkey INT, n_name STRING, n_regionkey INT"))),
        Nil))("src.out")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // MERGE INTO through the in-repo ACID sink (VersionedTable:
    // versioned-manifest copy-on-write parquet — the Delta-shaped
    // storage the reference writes on Databricks, rebuilt from first
    // principles since no Delta jar ships here). The dimension is
    // customers < 500; the feed is an orders aggregate over custkey
    // < 800, so the merge exercises BOTH branches: matched keys take
    // the feed's name/cents, unmatched feed keys insert. In-query
    // requires pin the ACID contract the oracle can't see: exactly
    // two versions exist, and the TIME-TRAVEL read of v1 still equals
    // the pre-merge dimension row-for-row (snapshot isolation), while
    // the emitted v2 content is what DuckDB's SQL merge predicts.
    "q145_versioned_merge" -> { (s, dir) =>
      val root = tmp(s, s"vt_merge/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"), col("c_name"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      graft.sources.VersionedTable.create(s, root, base)
      val feed = graft.Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 800)
        .groupBy(col("o_custkey"))
        .agg(sum(CoreQueries.cents(col("o_totalprice"))).as("cents"))
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("merged_"), col("o_custkey").cast("string"))
            .as("c_name"),
          col("cents"))
      val v2 = graft.sources.VersionedTable.merge(s, root, feed,
        keys = Seq("c_custkey"))
      require(v2 == 2L, s"expected version 2 after merge, got $v2")
      val v1 = graft.sources.VersionedTable.read(s, root, Some(1L))
      require(Par.sameMultiset(v1, base),
        "time-travel v1 must equal the pre-merge dimension exactly")
      graft.sources.VersionedTable.read(s, root)
        .orderBy(col("c_custkey"))
    },

    // SCD Type 2 through the same ACID sink: current rows whose
    // tracked attribute changed are EXPIRED (valid_to stamped,
    // is_current false) in the stored dimension and replaced by fresh
    // versions, new keys insert — all as ONE file-granular
    // copy-on-write commit. Emits the full post-commit dimension;
    // the oracle rebuilds expire+replace+insert in SQL. The feed
    // changes mktsegment for custkeys 0-99 (prefix tag), leaves
    // 100-199 untouched (must stay current and unexpired), and adds
    // 10000-10004 as new keys.
    "q146_versioned_scd2" -> { (s, dir) =>
      val root = tmp(s, s"vt_scd2/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 200)
        .select(col("c_custkey"), col("c_mktsegment"),
          lit("2026-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current"))
      graft.sources.VersionedTable.create(s, root, base)
      val feed = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          concat(lit("v2_"), col("c_mktsegment")).as("c_mktsegment"))
        .unionByName(s.range(10000, 10005)
          .select(col("id").cast("long").as("c_custkey"),
            lit("NEWSEG").as("c_mktsegment")))
      graft.sources.VersionedTable.scdType2Commit(s, root, feed,
        keys = Seq("c_custkey"), trackedCols = Seq("c_mktsegment"),
        runStamp = "2026-02-01")
      graft.sources.VersionedTable.read(s, root)
        .orderBy(col("c_custkey"), col("valid_from"), col("c_mktsegment"))
    },

    // Exactly-once streaming ingestion into the ACID table, certified
    // batch-wise: Structured Streaming delivers foreachBatch
    // AT-LEAST-ONCE, so the sink records the last applied (query,
    // batchId) as manifest meta riding the SAME atomic commit as the
    // data. This query replays the delivery sequence a crashy stream
    // produces — batch0, batch0 AGAIN (restart replay), batch1,
    // batch0 LATE — then compacts the accreted small files. In-query
    // requires pin what the oracle can't see: the replayed deliveries
    // moved NOTHING (version unchanged), compaction collapsed the
    // layout to one file while every prior version still time-travels.
    // The emitted snapshot must equal DuckDB applying each batch ONCE.
    "q149_versioned_stream" -> { (s, dir) =>
      val root = tmp(s, s"vt_stream/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      graft.sources.VersionedTable.create(s, root, base)
      val b0 = graft.Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 400)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(CoreQueries.cents(col("o_totalprice"))).as("cents"))
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("b0_"), col("n").cast("string")).as("c_mktsegment"),
          col("cents"))
      val b1 = graft.Tables.load(s, dir, "orders")
        .filter(col("o_custkey") >= 200 && col("o_custkey") < 500)
        .groupBy(col("o_custkey"))
        .agg(max(CoreQueries.cents(col("o_totalprice"))).as("cents"))
        .select(col("o_custkey").as("c_custkey"),
          lit("b1").as("c_mktsegment"), col("cents"))
      import graft.sources.VersionedTable
      val v2 = VersionedTable.streamingUpsert(s, root, b0,
        Seq("c_custkey"), "ingest", batchId = 0L)
      require(VersionedTable.streamingUpsert(s, root, b0,
        Seq("c_custkey"), "ingest", batchId = 0L) == v2,
        "restart replay of batch 0 must not commit")
      val v3 = VersionedTable.streamingUpsert(s, root, b1,
        Seq("c_custkey"), "ingest", batchId = 1L)
      require(VersionedTable.streamingUpsert(s, root, b0,
        Seq("c_custkey"), "ingest", batchId = 0L) == v3,
        "late replay of batch 0 must not regress batch 1")
      val v4 = VersionedTable.compact(s, root, smallFileBytes = 1L << 20)
      require(v4 == v3 + 1 || v4 == v3, // == v3: already one file (tiny sf)
        s"compact must commit at most one version, got $v4 after $v3")
      val out = VersionedTable.read(s, root)
      require(out.select(input_file_name()).distinct().count() == 1,
        "compacted layout must be one file")
      require(VersionedTable.read(s, root, Some(v3)).exceptAll(out).isEmpty,
        "compaction must not change contents")
      out.orderBy(col("c_custkey"))
    },

    // The incremental read a downstream consumer tails instead of
    // re-scanning the table per cycle: appends-only change feed over
    // the manifest file diff. The query creates the table, appends two
    // order-derived slices, and emits readAppendsSince(v1) — exactly
    // the two slices, never the base. In-query requires pin the
    // refusal contract the oracle can't see: after a MERGE rewrite the
    // same range must throw (the file diff stops being the row delta)
    // while a range strictly after the rewrite is clean again.
    "q150_versioned_appends" -> { (s, dir) =>
      val root = tmp(s, s"vt_appends/${java.util.UUID.randomUUID()}")
      import graft.sources.VersionedTable
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 200)
        .select(col("c_custkey"), CoreQueries.cents(col("c_acctbal"))
          .as("cents"))
      VersionedTable.create(s, root, base)
      def slice(lo: Int, hi: Int, off: Int) =
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
          .select((col("o_orderkey") + off).cast("long").as("c_custkey"),
            CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.append(s, root, slice(0, 200, 100000))
      val v3 = VersionedTable.append(s, root, slice(200, 400, 200000))
      val feed = VersionedTable.readAppendsSince(s, root, 1L)
      val n = feed.count()
      VersionedTable.merge(s, root,
        base.limit(50).withColumn("cents", col("cents") + 1),
        keys = Seq("c_custkey"))
      val refused =
        try { VersionedTable.readAppendsSince(s, root, 1L); false }
        catch { case _: IllegalStateException => true }
      require(refused, "a rewrite inside the range must refuse the feed")
      require(VersionedTable.readAppendsSince(s, root, 4L).isEmpty &&
        VersionedTable.readAppendsSince(s, root, 1L, Some(v3)).count() == n,
        "post-rewrite and bounded ranges must stay exact")
      feed.orderBy(col("c_custkey"))
    },

    // DATA SKIPPING on the ACID table: every commit records per-file
    // min/max/null-count column stats in the manifest (the Delta
    // `stats` / Iceberg manifest-bounds design), and readWhere prunes
    // the file list BEFORE Spark lists a single file. The table is
    // built as six order-key bands (two files each); the query asks for
    // one band, and the in-query requires pin what the oracle can't
    // see: exactly 2 of 12 files survive pruning — at 100 TB this is
    // reading one commit instead of the table. The oracle checks the
    // answer itself: skipping must be invisible to results.
    "q153_versioned_skipping" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_skip/${java.util.UUID.randomUUID()}")
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val w = maxKey / 6 + 1
      def band(b: Int) = orders
        .filter(col("o_orderkey") >= b * w && col("o_orderkey") < (b + 1) * w)
        .repartition(2)
      VersionedTable.create(s, root, band(0))
      (1 until 6).foreach(b => VersionedTable.append(s, root, band(b)))
      val pred = col("o_orderkey") >= lit(3L * w) &&
        col("o_orderkey") < lit(4L * w)
      val (kept, total) = VersionedTable.pruneProfile(s, root, pred)
      require(total == 12 && kept == 2,
        s"data skipping must keep 2/12 files for one band, got $kept/$total")
      VersionedTable.readWhere(s, root, pred)
        .orderBy(col("o_orderkey"))
    },

    // DELETE WHERE / UPDATE WHERE as predicate-granular copy-on-write:
    // the stats pruner decides which files a ranged mutation may touch;
    // everything else is CARRIED into the next manifest without being
    // read, let alone rewritten. The in-query requires certify the
    // carry (post-delete file set shares total-pruned files with the
    // pre-delete set, via input_file_name identity) and that both
    // mutations pruned strictly below the file total; the oracle
    // replays delete+update as SQL over the source table.
    "q154_versioned_delete_update" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_del/${java.util.UUID.randomUUID()}")
      val cust = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      val k = cust.agg(max(col("c_custkey"))).collect()(0).getLong(0)
      VersionedTable.create(s, root,
        cust.repartitionByRange(4, col("c_custkey")))
      def files(): Set[String] = VersionedTable.read(s, root)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      val before = files()
      val delPred = col("c_custkey") >= lit(k / 4) &&
        col("c_custkey") < lit(k / 2)
      val (dKept, dTotal) = VersionedTable.pruneProfile(s, root, delPred)
      require(dKept < dTotal && dKept > 0,
        s"ranged delete must prune some files, got $dKept/$dTotal")
      VersionedTable.deleteWhere(s, root, delPred)
      val afterDel = files()
      require((before intersect afterDel).size == dTotal - dKept,
        "files outside the delete range must be carried, not rewritten")
      val updPred = col("c_custkey") >= lit(3L * k / 4)
      val (uKept, uTotal) = VersionedTable.pruneProfile(s, root, updPred)
      require(uKept < uTotal && uKept > 0,
        s"ranged update must prune some files, got $uKept/$uTotal")
      VersionedTable.updateWhere(s, root, updPred,
        Map("c_mktsegment" -> lit("UPDATED")))
      require((afterDel intersect files()).size == uTotal - uKept,
        "files outside the update range must be carried, not rewritten")
      VersionedTable.read(s, root).orderBy(col("c_custkey"))
    },

    // OPTIMIZE-style clustering: an interleaved layout (every file
    // spans the whole key range) prunes NOTHING; one clusterBy rewrite
    // sorts rows into contiguous ranges and the same predicate then
    // touches ≤2 of 8 files. The in-query requires pin the before
    // (8/8 candidates) and after (≤2/8) pruning profiles — the part
    // the oracle can't see — while the oracle checks the ranged read's
    // content. At 100 TB this is the difference between a ranged query
    // scanning the table and scanning its answer.
    "q156_versioned_cluster" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_cluster/${java.util.UUID.randomUUID()}")
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      val maxKey = orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val w = maxKey / 6 + 1
      VersionedTable.create(s, root, orders.repartition(8))
      val pred = col("o_orderkey") >= lit(w) && col("o_orderkey") < lit(2L * w)
      val (k0, t0) = VersionedTable.pruneProfile(s, root, pred)
      require(k0 == t0 && t0 == 8,
        s"interleaved layout must keep all candidates, got $k0/$t0")
      VersionedTable.clusterBy(s, root, Seq("o_orderkey"),
        targetPartitions = 8)
      val (k1, t1) = VersionedTable.pruneProfile(s, root, pred)
      require(t1 == 8 && k1 <= 2,
        s"clustered layout must prune to <=2/8 files, got $k1/$t1")
      VersionedTable.readWhere(s, root, pred).orderBy(col("o_orderkey"))
    },

    // Schema evolution (Delta mergeSchema): an append carrying a column
    // the table has never seen widens the schema as ONE atomic commit;
    // existing files are carried untouched and read as NULL for the new
    // column. In-query requires pin the version-scoped shapes the
    // oracle can't see: time travel to v1 still reads the narrow
    // schema, and the current read is the widened one. The oracle
    // checks the merged content — base rows with NULL cents, appended
    // rows with theirs.
    "q157_versioned_evolve" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_evolve/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 200)
        .select(col("c_custkey"), col("c_mktsegment"))
      VersionedTable.create(s, root, base)
      val feed = graft.Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 300)
        .select((col("o_orderkey") + 100000).cast("long").as("c_custkey"),
          lit("NEW").as("c_mktsegment"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.appendEvolve(s, root, feed)
      require(VersionedTable.read(s, root, Some(1L)).columns.toSeq ==
        Seq("c_custkey", "c_mktsegment"),
        "time travel must read the pre-evolution schema")
      val out = VersionedTable.read(s, root)
      require(out.columns.toSeq ==
        Seq("c_custkey", "c_mktsegment", "cents"),
        "current read must carry the widened schema")
      out.orderBy(col("c_custkey"))
    },

    // Row-level CHANGE DATA FEED across rewrites (Delta CDF): a
    // cdf-enabled merge and a cdf-enabled ranged delete capture their
    // exact row deltas as change files riding the same atomic commit;
    // readChanges emits delete/insert rows tagged with their commit
    // version — an update is a delete+insert pair. The in-query
    // require proves the feed's defining property the oracle can't
    // see: v1 ∪ inserts ⊖ deletes == the current snapshot, as
    // multisets. The oracle reconstructs the expected change rows from
    // the same SQL the q145 merge oracle uses.
    "q158_versioned_cdf" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_cdf/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"), col("c_name"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      VersionedTable.create(s, root, base)
      val feed = graft.Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 800)
        .groupBy(col("o_custkey"))
        .agg(sum(CoreQueries.cents(col("o_totalprice"))).as("cents"))
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("merged_"), col("o_custkey").cast("string"))
            .as("c_name"),
          col("cents"))
      VersionedTable.merge(s, root, feed, keys = Seq("c_custkey"),
        cdf = true)
      VersionedTable.deleteWhere(s, root, col("c_custkey") < 100,
        cdf = true)
      val ch = VersionedTable.readChanges(s, root, 1L)
      val dataCols = Seq("c_custkey", "c_name", "cents")
      val ins = ch.filter(col("_change_type") === "insert")
        .select(dataCols.map(col): _*)
      val del = ch.filter(col("_change_type") === "delete")
        .select(dataCols.map(col): _*)
      val replayed = VersionedTable.read(s, root, Some(1L))
        .unionByName(ins).exceptAll(del)
      val cur = VersionedTable.read(s, root)
      require(Par.sameMultiset(replayed, cur),
        "CDF replay must reproduce the current snapshot exactly")
      ch.orderBy(col("_commit_version"), col("_change_type"),
        col("c_custkey"))
    },

    // Z-ORDER clustering (Delta OPTIMIZE ZORDER BY (a, b)): after a
    // Morton-curve rewrite on (o_orderkey, o_custkey), file stats are
    // narrow on BOTH columns, so a predicate on the SECOND dimension —
    // the one a lexicographic sort leaves spanning every file — prunes
    // file reads. In-query requires pin exactly that contrast: under
    // clusterBy(o_orderkey) the custkey band keeps all files; after
    // clusterByZorderN it keeps at most 3/4 (Morton boundary boxes
    // bound the constant at this file count; the grid bounds come from
    // the manifest's own stats, zero extra scan). The oracle checks
    // the ranged read's content.
    "q161_versioned_zorder" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_zorder/${java.util.UUID.randomUUID()}")
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      val maxCust = orders.agg(max(col("o_custkey"))).collect()(0).getLong(0)
      val pred = col("o_custkey") >= lit(maxCust / 4) &&
        col("o_custkey") < lit(maxCust / 2)
      VersionedTable.create(s, root, orders.repartition(8))
      VersionedTable.clusterBy(s, root, Seq("o_orderkey"),
        targetPartitions = 16)
      val (kLex, tLex) = VersionedTable.pruneProfile(s, root, pred)
      require(kLex == tLex && tLex == 16,
        s"custkey must span every file under an orderkey sort: $kLex/$tLex")
      VersionedTable.clusterByZorderN(s, root, Seq("o_orderkey", "o_custkey"),
        targetPartitions = 16)
      val (kZ, tZ) = VersionedTable.pruneProfile(s, root, pred)
      require(tZ == 16 && kZ <= tZ * 3 / 4,
        s"Z-order must make custkey prunable, got $kZ/$tZ")
      VersionedTable.readWhere(s, root, pred)
        .orderBy(col("o_orderkey"))
    },

    // The DATAFLOW ENGINE writing the ACID table natively — the
    // reference's Delta destination (enhanced_json_mapper.py writes
    // format("delta") from generated dataflows), closed on this
    // engine's own storage: flow 1 lands the dimension as version 1
    // through VersionedDestination(create); flow 2 MERGEs the
    // order-derived feed through VersionedDestination(merge); flow 3
    // reads back through SourceVersioned with a skipping predicate.
    // The oracle replays the merge + filter; in-query requires pin the
    // ACID shape (exactly two versions; v1 time-travels to the
    // pre-merge dimension).
    "q162_flow_versioned" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_flow/${java.util.UUID.randomUUID()}")
      run(s, dir, DataFlow("q162a", Seq(
        SourceTable("src", "customer",
          filter = Some("c_custkey < 500")),
        DerivedColumn("dc",
          Seq("cents" -> "(DT_I8)ROUND(c_acctbal * 100, 0)")),
        VersionedDestination("dst", root, mode = "create",
          columnMap = Seq("c_custkey" -> "c_custkey",
            "c_name" -> "c_name", "cents" -> "cents"))),
        Seq(Path("src", "dc"), Path("dc", "dst"))))
      run(s, dir, DataFlow("q162b", Seq(
        SourceTable("src", "orders",
          filter = Some("o_custkey < 800")),
        DerivedColumn("dc",
          Seq("o_cents" -> "(DT_I8)ROUND(o_totalprice * 100, 0)")),
        Aggregate("agg", groupBy = Seq("o_custkey"),
          aggs = Seq(("sum", "o_cents", "cents"))),
        DerivedColumn("nm", Seq(
          "c_name" -> "\"merged_\" + (DT_WSTR, 20)o_custkey")),
        VersionedDestination("dst", root, mode = "merge",
          keys = Seq("c_custkey"),
          columnMap = Seq("o_custkey" -> "c_custkey",
            "c_name" -> "c_name", "cents" -> "cents"))),
        Seq(Path("src", "dc"), Path("dc", "agg"), Path("agg", "nm"),
          Path("nm", "dst"))))
      require(VersionedTable.currentVersion(s, root).contains(2L),
        "the two flows must land exactly two versions")
      require(VersionedTable.read(s, root, Some(1L))
          .agg(max(col("c_custkey"))).collect()(0).getLong(0) < 500,
        "v1 must still be the pre-merge dimension")
      run(s, dir, DataFlow("q162c", Seq(
        SourceVersioned("src", root,
          where = Some(col("c_custkey") < 400))),
        Nil))("src.out")
        .orderBy(col("c_custkey"))
    },

    // The Delta MERGE clause combination WHEN MATCHED THEN DELETE +
    // WHEN NOT MATCHED THEN INSERT ("replace the intersection"): keys
    // the feed shares with the dimension are removed, brand-new feed
    // keys land — one file-granular commit. The review pass found the
    // old guard silently dropped the inserts; this row keeps the
    // combination under the driver gate. In-query requires pin the
    // version count and that time travel still shows the pre-merge
    // dimension.
    "q163_versioned_delete_insert" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_delins/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      VersionedTable.create(s, root, base)
      val feed = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") >= 300 && col("c_custkey") < 700)
        .select(col("c_custkey"), lit("REPLACED").as("c_mktsegment"),
          lit(0L).as("cents"))
      val v = VersionedTable.merge(s, root, feed, keys = Seq("c_custkey"),
        insertUnmatched = true, deleteMatched = true)
      require(v == 2L, s"expected one merge commit, got $v")
      require(VersionedTable.read(s, root, Some(1L)).count() == base.count(),
        "time travel must keep the pre-merge dimension")
      VersionedTable.read(s, root).orderBy(col("c_custkey"))
    },

    // Streaming TABLE→TABLE replication under the oracle gate (r12's
    // only capability with no CORRECTNESS row): tail the source
    // table's manifest directory as a file stream and converge a
    // replica via the row-level change feed, applying each source
    // version as ONE atomic sink commit keyed by batchId = source
    // version (Streams.replicateInto). The query creates the source,
    // starts the tail, then mutates live — upsert merge, ranged
    // delete, plain append — and emits the REPLICA. The in-query
    // require pins the stream contract the oracle can't see (replica
    // ≡ source, both directions); the oracle is the source-table SQL,
    // so the gate certifies the replicated CONTENT itself.
    "q164_versioned_replication" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val work = tmp(s, s"vt_repl/${java.util.UUID.randomUUID()}")
      val (src, dst, ckpt) = (s"$work/src", s"$work/dst", s"$work/ckpt")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 300)
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      VersionedTable.create(s, src, base)
      val q = graft.streaming.Streams.replicateInto(s, src, dst,
        keys = Seq("c_custkey"), checkpoint = ckpt)
      try {
        q.processAllAvailable()
        val feed = graft.Tables.load(s, dir, "orders")
          .filter(col("o_custkey") < 400)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"),
            sum(CoreQueries.cents(col("o_totalprice"))).as("cents"))
          .select(col("o_custkey").as("c_custkey"),
            concat(lit("m_"), col("n").cast("string")).as("c_mktsegment"),
            col("cents"))
        VersionedTable.merge(s, src, feed, keys = Seq("c_custkey"),
          cdf = true)
        VersionedTable.deleteWhere(s, src, col("c_custkey") < 50,
          cdf = true)
        val app = graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") < 100)
          .select((col("o_orderkey") + 100000L).cast("long")
            .as("c_custkey"), lit("APPEND").as("c_mktsegment"),
            CoreQueries.cents(col("o_totalprice")).as("cents"))
        VersionedTable.append(s, src, app)
        q.processAllAvailable()
      } finally q.stop()
      val replica = VersionedTable.read(s, dst)
      val source = VersionedTable.read(s, src)
      require(Par.sameMultiset(replica, source),
        "replica must converge to the source, key-wise and row-wise")
      replica.orderBy(col("c_custkey"))
    },

    // The FILE-COUNT-SCALE manifest layout under the oracle gate: 600
    // range-partitioned files cross the checkpoint threshold, so the
    // entry list lives in a parquet checkpoint and the text manifest
    // is O(delta) — the in-query requires pin what the oracle can't
    // see (v1 manifest a handful of lines, the append reusing the
    // same checkpoint with ONE add line, pruning keeping ~1/6 of the
    // files via the DISTRIBUTED stats filter), and the emitted band
    // read is oracle-checked row-for-row. At 100 TB (~1M files) this
    // layout is what keeps commits O(changed files) and prune work
    // off the driver.
    "q165_versioned_checkpoint" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_cp/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.create(s, root,
        base.repartitionByRange(600, col("o_orderkey")))
      def manifestLines(v: Long): Vector[String] = {
        val p = java.nio.file.Paths.get(root, "_manifests",
          f"v$v%020d.manifest")
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      val l1 = manifestLines(1L)
      require(l1.exists(_.startsWith("cp ")) && l1.size < 10,
        s"600-file table must take the checkpointed layout, " +
          s"got ${l1.size} manifest lines")
      // a one-file append must reuse the checkpoint: O(delta) commit
      VersionedTable.append(s, root, base
        .filter(col("o_orderkey") < 10)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .repartition(1))
      val l2 = manifestLines(2L)
      require(l2.filter(_.startsWith("cp ")) ==
        l1.filter(_.startsWith("cp ")) &&
        l2.count(_.startsWith("add ")) == 1,
        "append must be a delta commit against the same checkpoint")
      val mx = base.agg(max(col("o_orderkey"))).head.getLong(0)
      val w = mx / 6 + 1
      val pred = col("o_orderkey") >= 2 * w && col("o_orderkey") < 3 * w
      val (kept, total) = VersionedTable.pruneProfile(s, root, pred)
      require(total >= 500 && kept <= total / 4,
        s"distributed prune must drop most files, kept $kept/$total")
      VersionedTable.readWhere(s, root, pred).orderBy(col("o_orderkey"))
    },

    // MERGE-ON-READ deletes under the oracle gate: two point deletes
    // land as DELETION VECTORS (position lists riding the commit) with
    // ZERO data files rewritten — the in-query requires pin the v1/v2/
    // v3 file lists identical and the DV row accounting exact, which
    // the oracle can't see — then materializeDeletes folds the vectors
    // into clean files without changing a live row, and the emitted
    // read is oracle-checked row-for-row. At 100 TB this is the path
    // where deleting 0.01% of a table writes KBs of positions instead
    // of rewriting GBs of parquet (measured in SCALING.md).
    "q166_versioned_mor_delete" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_mor/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.create(s, root,
        base.repartitionByRange(8, col("o_orderkey")))
      def rels(v: Long): Set[String] =
        VersionedTable.fileList(s, root, v).toSet
      val n1 = VersionedTable.read(s, root).count()
      VersionedTable.deleteWhereMor(s, root, col("o_custkey") % 10 === 3,
        cdf = true)
      // second, OVERLAPPING delete: % 5 === 3 re-matches half the dead
      // rows — only live hits may extend the vectors
      VersionedTable.deleteWhereMor(s, root, col("o_custkey") % 5 === 3,
        cdf = true)
      require(rels(2L) == rels(1L) && rels(3L) == rels(1L),
        "merge-on-read must not rewrite or drop any data file")
      val dv3 = VersionedTable.deleteVectorProfile(s, root, 3L)
      val n3 = VersionedTable.read(s, root).count()
      require(dv3.values.sum == n1 - n3,
        s"DV position accounting must equal the live-row delta: " +
          s"${dv3.values.sum} vs ${n1 - n3}")
      // the CDF feed carries exactly the deleted live rows
      require(VersionedTable.readChanges(s, root, 1L).count() == n1 - n3,
        "cdf must capture each deleted row exactly once")
      // materialize: vectors fold into clean files, live rows unchanged
      VersionedTable.materializeDeletes(s, root, targetPartitions = 4,
        sortCols = Seq("o_orderkey"))
      require(VersionedTable.deleteVectorProfile(s, root, 4L).isEmpty,
        "materializeDeletes must retire every vector")
      require(VersionedTable.read(s, root).count() == n3,
        "materializeDeletes must not change a live row")
      VersionedTable.read(s, root).orderBy(col("o_orderkey"))
    },

    // CHECK / NOT NULL constraints under the oracle gate (Delta ALTER
    // TABLE ADD CONSTRAINT semantics): constraints ride the manifest
    // meta, existing data is validated at add time, every write
    // validates its new rows in ONE fused aggregate, and a violating
    // commit refuses ATOMICALLY — the in-query requires pin the
    // refusal leaving the version untouched, which the oracle can't
    // see; the emitted table (valid appends landed, invalid ones
    // didn't) is oracle-checked row-for-row.
    "q168_versioned_constraints" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_check/${java.util.UUID.randomUUID()}")
      val cust = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      VersionedTable.create(s, root, cust.filter(col("c_custkey") < 1000))
      VersionedTable.addConstraint(s, root, "key_nn",
        "c_custkey IS NOT NULL")
      VersionedTable.addConstraint(s, root, "cents_floor",
        "cents >= -100000000")
      require(VersionedTable.constraints(s, root).keySet ==
        Set("key_nn", "cents_floor"), "both constraints must be live")
      VersionedTable.append(s, root, cust
        .filter(col("c_custkey") >= 1000 && col("c_custkey") < 1500))
      val vBefore = VersionedTable.currentVersion(s, root).get
      val refused =
        try {
          // a slice nonempty at EVERY sf (plan audit runs sf0.001)
          VersionedTable.append(s, root, cust
            .filter(col("c_custkey") < 100)
            .withColumn("cents", lit(-999999999L)))
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("cents_floor")
        }
      require(refused, "the violating append must refuse by name")
      require(VersionedTable.currentVersion(s, root).contains(vBefore),
        "a refused write must leave the version untouched")
      VersionedTable.read(s, root).orderBy(col("c_custkey"))
    },

    // COLUMN MAPPING under the oracle gate (Delta rename/drop, name
    // mode): rename and drop are METADATA-ONLY commits — the physical
    // parquet name freezes at first write, logical names live in the
    // manifest — so not one data file, stat, or checkpoint is touched
    // at any file count. The in-query requires pin what the oracle
    // can't see (file lists identical across rename AND drop, stats
    // still pruning through the rename); the emitted read proves the
    // rename carried values, the drop hid them, and a re-added
    // same-name column reads NULL instead of resurrecting old bytes.
    "q169_versioned_column_mapping" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_colmap/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.create(s, root,
        base.repartitionByRange(8, col("o_orderkey")))
      VersionedTable.renameColumn(s, root, "cents", "total_cents") // v2
      VersionedTable.dropColumn(s, root, "o_custkey")              // v3
      require(VersionedTable.fileList(s, root, 3L).toSet ==
        VersionedTable.fileList(s, root, 1L).toSet,
        "rename and drop must not touch a single data file")
      // stats are keyed by the frozen physical name: pruning works
      // through the rename
      val mx = base.agg(max(col("o_orderkey"))).head.getLong(0)
      val (kept, total) = VersionedTable.pruneProfile(s, root,
        col("o_orderkey") <= mx / 8)
      require(total == 8 && kept <= 2,
        s"skipping must survive the rename: kept $kept/$total")
      // re-add a column NAMED o_custkey: fresh physical, old rows NULL
      VersionedTable.appendEvolve(s, root, base
        .filter(col("o_orderkey") < 50)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("cents").as("total_cents"), col("o_custkey")))      // v4
      require(VersionedTable.read(s, root, Some(1L)).columns.toSeq ==
        Seq("o_orderkey", "o_custkey", "cents"),
        "time travel must read the pre-rename shape")
      VersionedTable.read(s, root).orderBy(col("o_orderkey"))
    },

    // N-COLUMN Z-ORDER under the oracle gate: a 3-dimensional Morton
    // rewrite (bit j of column i at curve position j·3+i) makes the
    // per-file stats narrow on ALL THREE columns at once — the
    // in-query requires pin a band predicate on EVERY dim pruning
    // files after the rewrite (vs keeping nearly all before), which
    // the oracle can't see; the emitted band read on the middle dim is
    // oracle-checked row-for-row. At 100 TB this is the layout that
    // serves point/range questions on three independent dimensions
    // from one copy of the data.
    "q170_versioned_zorder3" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_z3/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.create(s, root, base.repartition(64))
      val dims = Seq("o_orderkey", "o_custkey", "cents")
      // deterministic integer band [mn + span/10, mn + span/5) per dim
      // (Long truncating division — replayed with // in the oracle)
      val bounds: Map[String, (Long, Long)] = dims.map { c =>
        val r = base.agg(min(col(c)), max(col(c))).head
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        c -> (mn + (mx - mn) / 10, mn + (mx - mn) / 5)
      }.toMap
      def kept(c: String): Int = {
        val (lo, hi) = bounds(c)
        VersionedTable.pruneProfile(s, root,
          col(c) >= lo && col(c) < hi)._1
      }
      val before = dims.map(kept)
      require(before.forall(_ >= 48),
        s"interleaved layout must keep nearly all files: $before")
      VersionedTable.clusterByZorderN(s, root, dims, 64)
      val after = dims.map(kept)
      require(after.forall(_ <= 40) && after.sum <= before.sum / 2,
        s"every dimension must prune after the 3-D rewrite: " +
          s"$after vs $before")
      val (lo, hi) = bounds("o_custkey")
      VersionedTable.readWhere(s, root,
          col("o_custkey") >= lo && col("o_custkey") < hi)
        .orderBy(col("o_orderkey"))
    },

    // DESCRIBE HISTORY under the oracle gate: every commit stamps its
    // operation in the manifest meta, so the table carries its own
    // provenance — which operation produced each version, the file
    // count (manifest arithmetic, O(versions) header reads), the live
    // deletion-vector row total, and whether the commit's row delta
    // is replayable (cdf / derivable / none). The scenario is
    // layout-deterministic at every sf (coalesced writes, a modulo
    // delete whose hits land in one file), so the full history —
    // including the DV accounting — replays as SQL.
    "q171_versioned_history" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"vt_hist/${java.util.UUID.randomUUID()}")
      val base = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          CoreQueries.cents(col("o_totalprice")).as("cents"))
      VersionedTable.create(s, root,
        base.filter(col("o_orderkey") % 2 === 0).coalesce(1))      // v1
      VersionedTable.append(s, root,
        base.filter(col("o_orderkey") % 2 === 1).coalesce(1))      // v2
      VersionedTable.deleteWhereMor(s, root,
        col("o_orderkey") % 2 === 0 && col("o_custkey") % 10 === 3,
        cdf = true)                                                // v3
      VersionedTable.renameColumn(s, root, "cents", "total_cents") // v4
      VersionedTable.materializeDeletes(s, root)                   // v5
      VersionedTable.describeHistory(s, root)
        .drop("commit_ts") // wall-clock — the only non-replayable column
        .orderBy(col("version"))
    },

    // SHALLOW CLONE under the oracle gate: a zero-copy fork — the
    // clone's manifest borrows the source's files by absolute path
    // (in-query require: the clone owns NO data dir before its first
    // write), divergent writes land in the clone (COW rewrites of
    // borrowed files become clone-owned replacements) while the
    // source snapshot stays bit-identical (required) — and the
    // clone's final content is oracle-checked row-for-row. At 100 TB
    // this is the dev/test table fork that moves zero bytes.
    "q172_versioned_clone" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val work = tmp(s, s"vt_clone/${java.util.UUID.randomUUID()}")
      val (src, dst) = (s"$work/src", s"$work/dst")
      val base = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 1000)
        .select(col("c_custkey"), col("c_mktsegment"),
          CoreQueries.cents(col("c_acctbal")).as("cents"))
      VersionedTable.create(s, src,
        base.repartitionByRange(2, col("c_custkey")))
      val srcRows = VersionedTable.read(s, src).count()
      VersionedTable.cloneTable(s, src, dst)
      require(!new java.io.File(s"$dst/data").exists(),
        "a shallow clone must copy zero data bytes")
      val feed = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") >= 500 && col("c_custkey") < 1500)
        .select(col("c_custkey"), lit("CLONED").as("c_mktsegment"),
          lit(0L).as("cents"))
      VersionedTable.merge(s, dst, feed, keys = Seq("c_custkey"))
      require(VersionedTable.read(s, src).count() == srcRows &&
        VersionedTable.read(s, src)
          .filter(col("c_mktsegment") === "CLONED").count() == 0,
        "the source must not observe the clone's writes")
      VersionedTable.read(s, dst).orderBy(col("c_custkey"))
    },

    // The OBJECT-STORE commit path under the oracle gate (r13 verdict
    // item 1): a full create → merge → delete → vacuum lifecycle with
    // every manifest publish and version reservation routed through
    // the conditional-put LogStore shim — the client a real S3/GCS
    // deployment would register — over a simulated store that offers
    // NO atomic rename and NO create-exclusive (LogStoreSpec proves
    // the naive translations tear manifests and lose updates on it).
    // In-query requires pin what the oracle can't see: the store's
    // request log shows both primitives of every commit actually
    // routed through the shim (2 conditional puts per commit — lock +
    // manifest), vacuum retired the pre-delete history, and the
    // surviving snapshot still time-travels. The emitted final state
    // is oracle-checked row-for-row.
    "q173_versioned_objectstore" -> { (s, dir) =>
      import graft.sources.{ConditionalPutLogStore, LogStore,
        SimulatedObjectStore, VersionedTable}
      val root = tmp(s, s"vt_shim/${java.util.UUID.randomUUID()}")
      val store = new SimulatedObjectStore
      LogStore.register(root, new ConditionalPutLogStore(store))
      try {
        val base = graft.Tables.load(s, dir, "customer")
          .filter(col("c_custkey") < 600)
          .select(col("c_custkey"), col("c_name"),
            CoreQueries.cents(col("c_acctbal")).as("cents"))
        VersionedTable.create(s, root, base) // v1
        val feed = graft.Tables.load(s, dir, "orders")
          .filter(col("o_custkey") < 800)
          .groupBy(col("o_custkey"))
          .agg(sum(CoreQueries.cents(col("o_totalprice"))).as("cents"))
          .select(col("o_custkey").as("c_custkey"),
            concat(lit("merged_"), col("o_custkey").cast("string"))
              .as("c_name"),
            col("cents"))
        val v2 = VersionedTable.merge(s, root, feed,
          keys = Seq("c_custkey")) // v2
        val v3 = VersionedTable.deleteWhere(s, root,
          col("c_custkey") % 10 === 4) // v3
        require(v2 == 2L && v3 == 3L,
          s"lifecycle must land v2/v3, got $v2/$v3")
        // 3 commits × (1 lock reservation + 1 manifest publish), all
        // through the simulated object service — zero silent fallback
        // to the POSIX default
        require(store.condPuts.get() == 6L,
          s"expected 6 conditional puts (2 per commit), " +
            s"saw ${store.condPuts.get()}")
        VersionedTable.vacuum(s, root, keepFrom = 3L,
          orphanGraceMs = -1000L)
        val mdir = new java.io.File(s"$root/_manifests")
        val vs = mdir.listFiles().map(_.getName)
          .filter(_.endsWith(".manifest")).sorted.toSeq
        require(vs.size == 1 && vs.head.contains("3"),
          s"vacuum must retire v1/v2, manifests left: $vs")
        require(VersionedTable.read(s, root, Some(3L)).count() ==
          VersionedTable.read(s, root).count(),
          "the surviving version must still time-travel")
        VersionedTable.read(s, root).orderBy(col("c_custkey"))
      } finally LogStore.unregister(root)
    },

    // Incremental materialized-view maintenance (Griffin & Libkin
    // SIGMOD'95; the Materialize / DLT shape): a grouped COUNT/SUM
    // aggregate kept current from the base table's row-level change
    // feed — refresh cost is O(churn in the commit range), never a
    // rescan of the base. The run exercises every delta shape (append,
    // CDF update, CDF group-killing delete, all-null sum
    // reconstruction), folds two base commits into one refresh, and
    // certifies IN-QUERY that (a) the incrementally-maintained state
    // equals a from-scratch recompute of the final snapshot (exact:
    // money-as-cents long sums, associative arithmetic) and (b) the
    // minmax partial-recompute rescan of the narrow-churn window
    // FILE-PRUNED the group-key-clustered base via the manifest
    // pruner (rescanProfile audit). The oracle aggregates the
    // replayed final base state directly.
    "q177_materialized_view" -> { (s, dir) =>
      import graft.sources.{MaterializedView, VersionedTable}
      val base = tmp(s, s"vt_mv/${java.util.UUID.randomUUID()}/base")
      val mv = tmp(s, s"vt_mv/${java.util.UUID.randomUUID()}/mv")
      // a deterministic half of lineitem: the certification is
      // structural (delta shapes + prune + recompute equality), not
      // volume-bound, and the fixture is the query's dominant cost
      val li = graft.Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
          CoreQueries.cents(col("l_extendedprice")).as("price_cents"),
          when(col("l_linenumber") % 7 === 0, lit(null).cast("long"))
            .otherwise(CoreQueries.cents(col("l_tax"))).as("tax_cents"))
      // cluster by the mutation key so the CoW commits below rewrite
      // only the files whose suppkey range the predicate hits — the
      // layout a mutated-by-key table would carry at 100 TB
      def bySupp(df: DataFrame): DataFrame =
        df.repartitionByRange(32, col("l_suppkey"))
      VersionedTable.create(s, base,
        bySupp(li.filter(col("l_orderkey") % 4 === 0))) // v1
      VersionedTable.append(s, base,
        bySupp(li.filter(col("l_orderkey") % 4 === 2))) // v2
      // defined at v2: the refresh window below is then a NARROW
      // key-range churn whose rescan must file-prune (an all-group
      // append window would box the whole table; that delta shape is
      // covered by the MvFixture family and the spec)
      MaterializedView.create(s, base, mv, keys = Seq("l_suppkey"),
        sums = Seq("price_cents", "tax_cents"),
        minmax = Seq("price_cents")) // exercises the touched-group
      // rescan lane: the +100 update and the group delete below both
      // move extrema that pure delta state could not reconstruct
      // range predicate (bottom suppkey decile): stats-prunable, so
      // the update rewrites ~1/10 of the files, not the table
      val cut = li.agg(max(col("l_suppkey"))).head().getLong(0) / 10L
      VersionedTable.updateWhere(s, base, col("l_suppkey") <= cut,
        Map("price_cents" -> (col("price_cents") + lit(100L))),
        cdf = true) // v3
      VersionedTable.deleteWhere(s, base, col("l_suppkey") === 1,
        cdf = true) // v4: supplier 1's group dies entirely
      MaterializedView.refresh(s, base, mv) // folds v3+v4
      require(MaterializedView.watermark(s, mv) == 4L,
        s"watermark must be 4, got ${MaterializedView.watermark(s, mv)}")
      // the minmax rescan must have gone through the manifest-stats
      // pruner and SKIPPED the files outside the churned bottom-decile
      // suppkey range — the audit rides the refresh commit's meta.
      // This only holds because the base clusters by the group key
      // (bySupp above); see the MaterializedView scaladoc caveat.
      val rescan = MaterializedView.rescanProfile(s, mv)
      require(rescan._1 > 0 && rescan._1 * 5 <= rescan._2,
        s"touched-group rescan must prune to <=1/5 of the clustered " +
          s"base's files, read ${rescan._1}/${rescan._2}")
      // schema evolution on the LIVE view: a new sum column backfills
      // from the watermark snapshot and rides the oracle compare like
      // the original columns (ALTER VIEW ADD, O(groups) rewrite)
      MaterializedView.addSums(s, base, mv, Seq("l_linenumber"))
      val got = MaterializedView.read(s, mv)
      // column ORDER matches read()'s definition order (sums then
      // minmax) — the multiset compare below is positional
      val want = VersionedTable.read(s, base).groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"),
          sum("price_cents").as("sum_price_cents"),
          sum("tax_cents").as("sum_tax_cents"),
          sum("l_linenumber").as("sum_l_linenumber"),
          min("price_cents").as("min_price_cents"),
          max("price_cents").as("max_price_cents"))
      // multiset equality in ONE action (group-count compare)
      require(Par.sameMultiset(got, want),
        "incrementally-maintained view must equal a full recompute")
      got.orderBy(col("l_suppkey"))
    },

    // Incremental JOIN view (the Materialize core): revenue-by-nation
    // over orders ⋈ customer, maintained from BOTH tables' change
    // feeds with the two-sided delta decomposition ΔL⋈R_new ⊎
    // L_old⋈ΔR (the cross term lands exactly once because the left
    // delta joins the NEW right snapshot and the right delta the OLD
    // left snapshot — both one time-travel read away). The shared
    // MvFixture timeline plants every shape: left appends + CDF price
    // updates + left deletes, right appends whose matching orders
    // arrive in the SAME window (pure ΔΔ pairs), and a right-side
    // customer delete that kills joined groups; one refresh folds
    // four left + two right commits. The join view resolves orders'
    // custkey against the customer key via the persisted per-side
    // rename. In-query cert pins incremental == full recompute of the
    // final join; the oracle aggregates the replayed final state.
    "q178_materialized_join_view" -> { (s, dir) =>
      import graft.sources.{MaterializedView, VersionedTable}
      val f = MvFixture.get(s, dir) // shared churned pair (see builder)
      require(MaterializedView.watermarks(s, f.mv178) == ((5L, 3L)),
        s"watermarks must be (5,3), got " +
          s"${MaterializedView.watermarks(s, f.mv178)}")
      // sum_o_orderkey was ALTER VIEW ADDed mid-timeline at pinned
      // (2, 1) — the evolved column rides the oracle compare like any
      // create-time column, through every later delta shape
      val got = MaterializedView.read(s, f.mv178)
      require(got.columns.contains("sum_o_orderkey"),
        "the evolved join-view column must survive refreshes")
      val want = VersionedTable.read(s, f.orders)
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(VersionedTable.read(s, f.customer), Seq("c_custkey"))
        .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"),
          sum("price_cents").as("sum_price_cents"),
          sum("o_orderkey").as("sum_o_orderkey"))
      require(Par.sameMultiset(got, want),
        "incrementally-maintained join view must equal a full recompute")
      got.orderBy(col("c_nationkey"))
    },

    // Approx-distinct materialized view: per-group COUNT DISTINCT
    // maintained as a mergeable DataSketches HLL column — the 100 TB
    // distinct-count path (exact per-group distinct state is
    // unbounded; sketches union in O(sketch)). Insert-only refreshes
    // take the pure union lane; a refresh whose window DELETES from a
    // sketched group rebuilds exactly those groups' sketches from the
    // target snapshot (the min/max partial-recompute lane — HLL cannot
    // retract). The shared MvFixture timeline exercises both: an
    // insert-only refresh at the append, then one window mixing a
    // customer-slice delete, a GROUP-KILLING delete (one whole
    // priority leaves the view), and a CDF update.
    // In-query certs: every estimate sits within the 3-sigma HLL
    // bound of the POST-delete exact distincts — which doubles as the
    // retraction proof, because the power cert pins that the delete
    // removed enough customers that a stale (non-retracted) sketch
    // sits far outside that bound (~17% high vs the 5% bound). Sketch-
    // level equality with a recompute is certified in the unit spec's
    // sparse regime; at this scale the ESTIMATOR is path-dependent
    // (merged sketches estimate composite, un-merged HIP), so the
    // bound+power pair is the sound in-query form. The killed group
    // must leave the view; cnt/sum lanes stay exact alongside. The
    // oracle replays exact distincts and pins every flag TRUE.
    "q180_materialized_distinct" -> { (s, dir) =>
      import graft.sources.{MaterializedView, VersionedTable}
      val f = MvFixture.get(s, dir) // shared churned pair (see builder)
      val est = MaterializedView.read(s, f.mv180)
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_price_cents"), col("distinct_o_custkey"))
      require(est.filter(col("o_orderpriority") === "1-URGENT").isEmpty,
        "group-killing delete must remove the group's view row")
      val exact = VersionedTable.read(s, f.orders)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      // pre-delete exact (time travel to the insert-only watermark):
      // the power term — how far a STALE sketch would sit from truth
      val pre = VersionedTable.read(s, f.orders, Some(2L))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("pre_distinct"))
      val out = est.join(exact, Seq("o_orderpriority"))
        .join(pre, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_price_cents"), col("exact_distinct"),
          (abs(col("distinct_o_custkey") - col("exact_distinct"))
            <= lit(0.05) * col("exact_distinct")).as("within_bound"),
          // a non-retracted sketch estimates ~pre_distinct (±1.6%
          // rsd), so the 5% bound above only PROVES retraction if the
          // delete moved the truth by well more than the bound
          (col("pre_distinct") > lit(1.10) * col("exact_distinct"))
            .as("retraction_powered"))
      require(out.filter(!col("within_bound") ||
          !col("retraction_powered")).isEmpty,
        "HLL estimates must track post-delete exact within 3 sigma, " +
          "with deletes large enough that a stale sketch cannot pass")
      out.orderBy(col("o_orderpriority"))
    },

    // View CASCADE (the Materialize dataflow-graph shape): base ->
    // mv1 (per-customer revenue, created with cdf so its OWN refresh
    // commits capture row-level changes) -> mv2 (per-bucket rollup of
    // mv1's raw sums), each level delta-maintained off the level
    // above — no level ever rescans its base. The shared MvFixture
    // timeline churns the ROOT with an append + CDF update + two
    // customer-killing deletes; this entry then refreshes down the
    // cascade (the builder leaves it stale on purpose) and certifies
    // in-query that the top equals a direct recompute from the root.
    // mv181b's cnt counts mv181a rows = distinct surviving customers
    // per bucket; the oracle replays both levels as one aggregate.
    "q181_materialized_cascade" -> { (s, dir) =>
      import graft.sources.{MaterializedView, VersionedTable}
      val f = MvFixture.get(s, dir) // shared churned pair (see builder)
      // one orchestrated pass: refreshAll derives the DAG from the
      // views' pinned base meta and refreshes mv181a BEFORE mv181b
      // (listed out of order on purpose); a second pass is all no-ops
      val versions = MaterializedView.refreshAll(s,
        Seq(f.mv181b, f.mv181a))
      require(MaterializedView.refreshAll(s, Seq(f.mv181b, f.mv181a))
          == versions,
        "an up-to-date DAG must refresh as a version no-op")
      // EVOLVE THE MID VIEW UNDER ITS LIVE DEPENDENT (the r15 pinned
      // refusal, now a capability): the evolution commit carries its
      // derivable change rows, so mv181b's next refresh CROSSES it as
      // a nets-to-zero batch instead of hitting the rewrite guard.
      // Guarded for JVM-shared fixture reruns (the evolution itself
      // is once-only; the certs below hold on every rerun).
      if (!MaterializedView.read(s, f.mv181a).columns
          .contains("sum_o_orderkey"))
        MaterializedView.addColumns(s, f.orders, f.mv181a,
          sums = Seq("o_orderkey"))
      val after = MaterializedView.refreshAll(s, Seq(f.mv181b, f.mv181a))
      require(MaterializedView.refreshAll(s, Seq(f.mv181b, f.mv181a))
          == after, "post-evolution DAG must quiesce")
      // the evolved column is live and correct at the mid level...
      val evolved = MaterializedView.read(s, f.mv181a)
        .select(col("bucket"), col("o_custkey"), col("sum_o_orderkey"))
      val wantEv = VersionedTable.read(s, f.orders)
        .groupBy("bucket", "o_custkey")
        .agg(sum("o_orderkey").as("sum_o_orderkey"))
      require(Par.sameMultiset(evolved, wantEv),
        "evolved mid-view column must equal a direct recompute")
      // ...and the top still equals the root recompute after crossing
      val got = MaterializedView.read(s, f.mv181b)
      val want = VersionedTable.read(s, f.orders).groupBy("bucket")
        .agg(countDistinct(col("o_custkey")).as("cnt"),
          sum("price_cents").as("sum_raw_price_cents"))
      require(Par.sameMultiset(got, want),
        "cascade top must equal a direct recompute from the root")
      got.orderBy(col("bucket"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q173_versioned_objectstore" ->
      """WITH base AS (SELECT c_custkey, c_name,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 600),
        |feed AS (SELECT o_custkey AS c_custkey,
        |    'merged_' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey < 800 GROUP BY o_custkey),
        |merged AS (SELECT COALESCE(b.c_custkey, f.c_custkey) AS c_custkey,
        |    COALESCE(f.c_name, b.c_name) AS c_name,
        |    COALESCE(f.cents, b.cents) AS cents
        |  FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey)
        |SELECT c_custkey, c_name, cents FROM merged
        |WHERE c_custkey % 10 <> 4
        |ORDER BY c_custkey""".stripMargin,
    "q177_materialized_view" ->
      """WITH b AS (SELECT l_suppkey,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      + CASE WHEN l_suppkey <=
        |          (SELECT max(l_suppkey) // 10 FROM lineitem)
        |        THEN 100 ELSE 0 END
        |      AS price_cents,
        |    CASE WHEN l_linenumber % 7 = 0 THEN NULL
        |      ELSE CAST(ROUND(l_tax * 100) AS BIGINT) END AS tax_cents,
        |    l_linenumber
        |  FROM lineitem WHERE l_suppkey <> 1 AND l_orderkey % 2 = 0)
        |SELECT l_suppkey, COUNT(*) AS cnt,
        |  CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
        |  CAST(SUM(tax_cents) AS BIGINT) AS sum_tax_cents,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_l_linenumber,
        |  CAST(MIN(price_cents) AS BIGINT) AS min_price_cents,
        |  CAST(MAX(price_cents) AS BIGINT) AS max_price_cents
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q178_materialized_join_view" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END
        |      AS price_cents
        |  FROM orders
        |  WHERE o_custkey % 7 <> 3 AND o_orderpriority <> '1-URGENT'),
        |c AS (SELECT c_custkey, c_nationkey FROM customer
        |  WHERE c_custkey % 10 <> 4)
        |SELECT c_nationkey, COUNT(*) AS cnt,
        |  CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey
        |FROM o JOIN c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q181_materialized_cascade" ->
      """WITH o AS (SELECT o_custkey % 10 AS bucket, o_custkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END
        |      AS price_cents
        |  FROM orders
        |  WHERE o_custkey % 7 <> 3 AND o_orderpriority <> '1-URGENT')
        |SELECT bucket,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS cnt,
        |  CAST(SUM(price_cents) AS BIGINT) AS sum_raw_price_cents
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_materialized_distinct" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_custkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END
        |      AS price_cents
        |  FROM orders
        |  WHERE o_custkey % 7 <> 3 AND o_orderpriority <> '1-URGENT')
        |SELECT o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS within_bound, TRUE AS retraction_powered
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q172_versioned_clone" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 1000),
        |feed AS (SELECT c_custkey, 'CLONED' AS c_mktsegment,
        |    CAST(0 AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey >= 500 AND c_custkey < 1500)
        |SELECT COALESCE(b.c_custkey, f.c_custkey) AS c_custkey,
        |  COALESCE(f.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        |  COALESCE(f.cents, b.cents) AS cents
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q171_versioned_history" ->
      """WITH n3 AS (SELECT COUNT(*) AS c FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_custkey % 10 = 3)
        |SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'CREATE', CAST(1 AS BIGINT),
        |    CAST(0 AS BIGINT), 'derivable'),
        |  (CAST(2 AS BIGINT), 'APPEND', CAST(2 AS BIGINT),
        |    CAST(0 AS BIGINT), 'derivable'),
        |  (CAST(3 AS BIGINT), 'DELETE MOR', CAST(2 AS BIGINT),
        |    (SELECT CAST(c AS BIGINT) FROM n3), 'cdf'),
        |  (CAST(4 AS BIGINT), 'RENAME COLUMN', CAST(2 AS BIGINT),
        |    (SELECT CAST(c AS BIGINT) FROM n3), 'derivable'),
        |  (CAST(5 AS BIGINT), 'MATERIALIZE DELETES', CAST(2 AS BIGINT),
        |    CAST(0 AS BIGINT), 'none')
        |) AS t(version, op, file_count, dv_rows, change_capture)
        |ORDER BY version""".stripMargin,
    "q170_versioned_zorder3" ->
      """WITH b AS (SELECT MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_custkey >= (SELECT mn + (mx - mn) // 10 FROM b)
        |  AND o_custkey < (SELECT mn + (mx - mn) // 5 FROM b)
        |ORDER BY o_orderkey""".stripMargin,
    "q169_versioned_column_mapping" ->
      """SELECT o_orderkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  CAST(NULL AS BIGINT) AS o_custkey
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 20000000,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT), o_custkey
        |FROM orders WHERE o_orderkey < 50
        |ORDER BY o_orderkey""".stripMargin,
    "q168_versioned_constraints" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |FROM customer WHERE c_custkey < 1500
        |ORDER BY c_custkey""".stripMargin,
    "q166_versioned_mor_delete" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_custkey % 10 <> 3 AND o_custkey % 5 <> 3
        |ORDER BY o_orderkey""".stripMargin,
    "q165_versioned_checkpoint" ->
      """WITH w AS (SELECT MAX(o_orderkey)//6 + 1 AS w FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey >= 2*(SELECT w FROM w)
        |  AND o_orderkey < 3*(SELECT w FROM w)
        |ORDER BY o_orderkey""".stripMargin,
    "q164_versioned_replication" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 300),
        |feed AS (SELECT o_custkey AS c_custkey,
        |    'm_' || CAST(COUNT(*) AS VARCHAR) AS c_mktsegment,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders WHERE o_custkey < 400 GROUP BY o_custkey),
        |merged AS (SELECT COALESCE(f.c_custkey, b.c_custkey) AS c_custkey,
        |    COALESCE(f.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
        |    COALESCE(f.cents, b.cents) AS cents
        |  FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey)
        |SELECT * FROM merged WHERE c_custkey >= 50
        |UNION ALL
        |SELECT o_orderkey + 100000, 'APPEND',
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey < 100
        |ORDER BY c_custkey""".stripMargin,
    "q145_versioned_merge" ->
      """WITH base AS (SELECT c_custkey, c_name,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 500),
        |feed AS (SELECT o_custkey AS c_custkey,
        |    'merged_' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey < 800 GROUP BY o_custkey)
        |SELECT COALESCE(b.c_custkey, f.c_custkey) AS c_custkey,
        |  COALESCE(f.c_name, b.c_name) AS c_name,
        |  COALESCE(f.cents, b.cents) AS cents
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q146_versioned_scd2" ->
      """SELECT c_custkey, c_mktsegment, '2026-01-01' AS valid_from,
        |  CASE WHEN c_custkey < 100 THEN '2026-02-01'
        |    ELSE CAST(NULL AS VARCHAR) END AS valid_to,
        |  c_custkey >= 100 AS is_current
        |FROM customer WHERE c_custkey < 200
        |UNION ALL
        |SELECT c_custkey, 'v2_' || c_mktsegment, '2026-02-01',
        |  CAST(NULL AS VARCHAR), TRUE
        |FROM customer WHERE c_custkey < 100
        |UNION ALL
        |SELECT CAST(r.range + 10000 AS BIGINT), 'NEWSEG', '2026-02-01',
        |  CAST(NULL AS VARCHAR), TRUE
        |FROM range(5) r
        |ORDER BY c_custkey, valid_from, c_mktsegment""".stripMargin,
    "q149_versioned_stream" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 300),
        |b0 AS (SELECT o_custkey AS c_custkey,
        |    'b0_' || CAST(COUNT(*) AS VARCHAR) AS c_mktsegment,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey < 400 GROUP BY o_custkey),
        |b1 AS (SELECT o_custkey AS c_custkey, 'b1' AS c_mktsegment,
        |    MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders WHERE o_custkey >= 200 AND o_custkey < 500
        |  GROUP BY o_custkey),
        |keys AS (SELECT c_custkey FROM base
        |  UNION SELECT c_custkey FROM b0 UNION SELECT c_custkey FROM b1)
        |SELECT k.c_custkey,
        |  COALESCE(b1.c_mktsegment, b0.c_mktsegment, base.c_mktsegment)
        |    AS c_mktsegment,
        |  COALESCE(b1.cents, b0.cents, base.cents) AS cents
        |FROM keys k LEFT JOIN b1 USING (c_custkey)
        |  LEFT JOIN b0 USING (c_custkey) LEFT JOIN base USING (c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q150_versioned_appends" ->
      """SELECT o_orderkey + 100000 AS c_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders WHERE o_orderkey >= 0 AND o_orderkey < 200
        |UNION ALL
        |SELECT o_orderkey + 200000,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 400
        |ORDER BY c_custkey""".stripMargin,
    "q153_versioned_skipping" ->
      """WITH w AS (SELECT MAX(o_orderkey)//6 + 1 AS w FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey >= 3*(SELECT w FROM w)
        |  AND o_orderkey < 4*(SELECT w FROM w)
        |ORDER BY o_orderkey""".stripMargin,
    "q163_versioned_delete_insert" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |FROM customer WHERE c_custkey < 300
        |UNION ALL
        |SELECT c_custkey, 'REPLACED', 0
        |FROM customer WHERE c_custkey >= 500 AND c_custkey < 700
        |ORDER BY c_custkey""".stripMargin,
    "q162_flow_versioned" ->
      """WITH base AS (SELECT c_custkey, c_name,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 500),
        |feed AS (SELECT o_custkey AS c_custkey,
        |    'merged_' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey < 800 GROUP BY o_custkey)
        |SELECT COALESCE(b.c_custkey, f.c_custkey) AS c_custkey,
        |  COALESCE(f.c_name, b.c_name) AS c_name,
        |  COALESCE(f.cents, b.cents) AS cents
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey
        |WHERE COALESCE(b.c_custkey, f.c_custkey) < 400
        |ORDER BY c_custkey""".stripMargin,
    "q161_versioned_zorder" ->
      """WITH m AS (SELECT MAX(o_custkey) AS k FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_custkey >= (SELECT k FROM m)//4
        |  AND o_custkey < (SELECT k FROM m)//2
        |ORDER BY o_orderkey""".stripMargin,
    "q158_versioned_cdf" ->
      """WITH base AS (SELECT c_custkey, c_name,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_custkey < 500),
        |feed AS (SELECT o_custkey AS c_custkey,
        |    'merged_' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey < 800 GROUP BY o_custkey),
        |v2 AS (SELECT COALESCE(b.c_custkey, f.c_custkey) AS c_custkey,
        |    COALESCE(f.c_name, b.c_name) AS c_name,
        |    COALESCE(f.cents, b.cents) AS cents
        |  FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.c_custkey)
        |SELECT * FROM (
        |  SELECT b.c_custkey, b.c_name, b.cents,
        |    'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |  FROM base b WHERE b.c_custkey IN (SELECT c_custkey FROM feed)
        |  UNION ALL
        |  SELECT f.c_custkey, f.c_name, f.cents, 'insert', 2 FROM feed f
        |  UNION ALL
        |  SELECT v.c_custkey, v.c_name, v.cents, 'delete', 3
        |  FROM v2 v WHERE v.c_custkey < 100)
        |ORDER BY _commit_version, _change_type, c_custkey""".stripMargin,
    "q157_versioned_evolve" ->
      """SELECT c_custkey, c_mktsegment, CAST(NULL AS BIGINT) AS cents
        |FROM customer WHERE c_custkey < 200
        |UNION ALL
        |SELECT o_orderkey + 100000, 'NEW',
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY c_custkey""".stripMargin,
    "q156_versioned_cluster" ->
      """WITH w AS (SELECT MAX(o_orderkey)//6 + 1 AS w FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey >= (SELECT w FROM w)
        |  AND o_orderkey < 2*(SELECT w FROM w)
        |ORDER BY o_orderkey""".stripMargin,
    "q154_versioned_delete_update" ->
      """WITH m AS (SELECT MAX(c_custkey) AS k FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN c_custkey >= 3*(SELECT k FROM m)//4 THEN 'UPDATED'
        |       ELSE c_mktsegment END AS c_mktsegment,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |FROM customer
        |WHERE NOT (c_custkey >= (SELECT k FROM m)//4
        |       AND c_custkey < (SELECT k FROM m)//2)
        |ORDER BY c_custkey""".stripMargin,
    "q121_compaction" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q126_zorder_compaction" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q103_partitioned_layout" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "q32_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q33_json_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "q34_text_source" ->
      "SELECT text AS value FROM documents ORDER BY value",
    "q39_excel_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q46_import_export" ->
      "SELECT doc_id, text AS text2 FROM documents WHERE doc_id < 200 ORDER BY doc_id",
    "q53_rest_source" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q182_rest_http" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q70_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q184_perrow_command" ->
      """SELECT s_suppkey,
        |  CAST(ROUND(s_acctbal * 100) AS BIGINT)
        |    + CASE WHEN s_suppkey % 3 = 1 THEN 1000 ELSE 0 END AS cents,
        |  CASE WHEN s_suppkey % 3 = 1 THEN 1 ELSE 0 END AS flagged
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q40_xml_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"
  )
}
