package graft.ir

/** Typed pipeline IR — the executable counterpart of the reference's
  * parsed-JSON package model (/root/reference/models.py:9-133 and the
  * parser output of parsing/data_engineering_parser.py). Where the
  * reference stringifies each component into PySpark source text, these
  * nodes execute directly as DataFrame transformations (see
  * graft.dag.DataFlowExec).
  *
  * Expressions are SSIS expression-language strings, compiled against
  * the input schema by graft.expr.Compiler at plan-build time.
  */
sealed trait Component { def name: String }

object Component {
  // ---- sources (SURVEY §2.1) ----
  /** Full-table scan; `columns` non-empty → projection pushed to the scan. */
  final case class SourceTable(name: String, table: String,
      columns: Seq[String] = Nil, filter: Option[String] = None) extends Component
  /** AccessMode=2 source: arbitrary SQL over registered tables
    * (reference: enhanced_json_mapper.py:112-133). `columnsAs` renames
    * the result positionally — dtsx sources declare their output schema
    * as outputColumn names that may differ from the SELECT list. */
  final case class SourceQuery(name: String, sql: String,
      columnsAs: Seq[String] = Nil) extends Component

  /** CSV file source with header/sep/etc. options (reference:
    * enhanced_json_mapper.py:71-79,166-175). Prefer an explicit
    * `schemaDdl` ("a INT, b STRING") — inferSchema is an extra full
    * pass over the files, wrong at scale. */
  final case class SourceCsv(name: String, path: String,
      options: Map[String, String] = Map("header" -> "true"),
      schemaDdl: Option[String] = None) extends Component
  /** JSON/REST-payload source (reference: enhanced_json_mapper.py:134-152
    * fetches then builds a frame; file-based here — zero-egress build). */
  final case class SourceJson(name: String, path: String,
      options: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None) extends Component
  /** REST API / JSON-payload source with a JSONPath-subset filter
    * (reference: data_engineering_parser.py:566-577,
    * enhanced_json_mapper.py:134-152 — fetch, filter, frame).
    * http(s) URLs fetch through [[graft.sources.HttpTransport]]
    * (Link-header pagination, real sockets — loopback-tested, the
    * production shape); file:// / bare paths read locally; `jsonPath`
    * supports `$`, `.field`, `[*]`; `schemaDdl` casts result columns
    * by name. */
  final case class SourceRest(name: String, url: String,
      jsonPath: String = "$",
      schemaDdl: Option[String] = None) extends Component
  /** JDBC source (reference: enhanced_json_mapper.py:1611-1713):
    * partitioned range read over a connection-manager config. The
    * sandbox ships no driver jar — the option shape and wiring are
    * tested; see graft.sources.Jdbc. */
  final case class SourceJdbc(name: String,
      conn: graft.sources.Jdbc.ConnectionDef, dbtable: String,
      partitioning: Option[graft.sources.Jdbc.JdbcPartitioning] = None,
      fetchSize: Int = 10000) extends Component
  /** Flat file → one `value` column (reference: component_mapper.py:353). */
  final case class SourceText(name: String, path: String) extends Component
  /** Direct parquet path scan (not via the catalog). */
  final case class SourceParquet(name: String, path: String) extends Component
  /** Excel .xlsx source via the native OOXML reader (reference reads
    * Excel at enhanced_json_mapper.py:62-69,154-164); `schemaDdl`
    * applies positionally like the CSV source. `sheetName` (the OLE DB
    * "Sheet1$" form is accepted) overrides the `sheet` index, resolved
    * against the workbook at read time. */
  final case class SourceExcel(name: String, path: String, sheet: Int = 0,
      header: Boolean = true, schemaDdl: Option[String] = None,
      sheetName: Option[String] = None) extends Component
  /** XML source via Spark's built-in xml datasource; `rowTag` names the
    * repeating record element. */
  final case class SourceXml(name: String, path: String, rowTag: String,
      options: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None) extends Component

  // ---- row-wise transforms (§2.3) ----
  /** `(column, ssisExpression)` pairs, applied in order; an existing
    * column name means replace (SSIS "Replace 'Col'" semantics).
    * `errorOutput`: SSIS errorRowDisposition=RedirectRow — when set,
    * rows whose expressions raise (ANSI cast/arithmetic errors) are
    * routed to that port with an `ErrorMessage` column instead of
    * failing the flow; expressions run inside the native `try_capture`
    * expression so the success path stays in whole-stage codegen. */
  final case class DerivedColumn(name: String, exprs: Seq[(String, String)],
      errorOutput: Option[String] = None) extends Component
  /** Cast columns: (input column, DT_* type literal, output column —
    * same as input to replace in place). */
  final case class DataConversion(name: String,
      casts: Seq[(String, String, String)]) extends Component
  final case class CopyColumn(name: String, copies: Seq[(String, String)]) extends Component
  /** SSIS Character Map ops: Uppercase / Lowercase (inPlace or new col). */
  final case class CharacterMap(name: String,
      maps: Seq[(String, String, String)]) extends Component // (col, op, outCol)
  /** Import Column (SSIS §2.3, reference recognize-only): adds the
    * contents of the file named by `pathColumn` as binary
    * `contentColumn`. Distributed: the files under `baseDir` are read
    * via Spark's binaryFile source and equi-joined on the normalized
    * path — no driver-side file loop. Missing files → NULL. */
  final case class ImportColumn(name: String, pathColumn: String,
      contentColumn: String, baseDir: String) extends Component
  /** Export Column (SSIS §2.3, recognize-only): writes each row's
    * `contentColumn` (binary or string) to the file named by
    * `pathColumn` — executor-side per-partition writes, input passed
    * through. */
  final case class ExportColumn(name: String, pathColumn: String,
      contentColumn: String) extends Component
  /** Cache Transform (SSIS §2.4, reference maps to df.cache):
    * materializes the input once and registers it as `cacheName` for
    * downstream Lookups (`Lookup(refSql = Some("SELECT * FROM
    * cacheName"))`), in this data flow or a later one of the package. */
  final case class CacheTransform(name: String, cacheName: String) extends Component

  /** Murmur3 hash of `columns` into `outColumn` — the scalable change-
    * detection checksum (reference emits hash(*cols),
    * enhanced_json_mapper.py:2529-2539). */
  final case class Checksum(name: String, columns: Seq[String],
      outColumn: String = "CheckSum") extends Component
  /** Audit columns: run id, package name, timestamps etc. as literals
    * from the pipeline variable context. */
  final case class Audit(name: String, columns: Seq[(String, String)]) extends Component

  // ---- joins & lookups (§2.4) ----
  sealed trait NoMatchBehavior
  object NoMatchBehavior {
    /** SSIS NoMatchBehavior=0: unmatched row fails the pipeline. */
    case object Fail extends NoMatchBehavior
    /** =1: pass through with nulls (left join). */
    case object Ignore extends NoMatchBehavior
    /** Redirect-to-no-match-output: matched rows leave on "out",
      * unmatched stream rows on "nomatch". */
    case object Redirect extends NoMatchBehavior
  }
  /** Equi-join the stream against a reference table.
    * `cacheFull=true` (SSIS CacheType=FULL) → broadcast the reference.
    * `copyColumns`: (refColumn, outputAlias). */
  final case class Lookup(name: String, refTable: String,
      joinKeys: Seq[(String, String)],            // (streamCol, refCol)
      copyColumns: Seq[(String, String)],
      noMatch: NoMatchBehavior = NoMatchBehavior.Ignore,
      cacheFull: Boolean = true,
      /** reference side as SQL (dtsx Lookup SqlCommand) — overrides
        * refTable when set */
      refSql: Option[String] = None) extends Component

  /** Merge Join: JoinType 0=inner/1=left/2=full (reference:
    * data_engineering_parser.py:738-741); keys paired positionally;
    * `nullsEqual` → `<=>` (TreatNullsAsEqual, :808). Per-side projection/
    * rename maps (InputColumnID output map, Sample_Medium_Package.dtsx:426-483). */
  final case class MergeJoin(name: String, joinType: String,
      keys: Seq[(String, String)], nullsEqual: Boolean = false,
      leftSelect: Seq[(String, String)] = Nil,
      rightSelect: Seq[(String, String)] = Nil) extends Component

  /** Merge = union of two sorted inputs preserving order (NOT a join;
    * reference: data_engineering_parser.py:812-871). `sortOutput=false`
    * defers the global sort: SSIS Merge's order contract rarely matters
    * downstream (a consuming join/agg re-shuffles anyway), and a global
    * orderBy is a range-partition + sort — the single most expensive
    * thing to do to 100 TB. The keys remain the declared contract.
    * Each key carries its direction (true = ascending): SSIS encodes a
    * descending sort key as a NEGATIVE cachedSortKeyPosition, so the
    * frontend must not lose the sign. */
  final case class MergeSorted(name: String, sortKeys: Seq[(String, Boolean)],
      sortOutput: Boolean = true) extends Component

  /** Fuzzy Lookup (reference recognize-only,
    * data_engineering_parser.py:1204-1207): top approximate matches of
    * `streamKey` against `refTable.refKey` by normalized edit
    * similarity, ties broken by smallest `refIdColumn`. Unmatched rows
    * pass through with nulls. Candidates come from lossless q-gram
    * blocking (graft.ext.Fuzzy), never all-pairs; stream keys are
    * deduplicated before matching. `copyColumns`: (refCol, alias).
    * `maxMatches` is SSIS `MaxOutputMatchesPerInput`
    * (data_engineering_parser.py:1204-1207): N>1 emits up to N rows per
    * input row, ranked in `simColumn + "_rank"`. */
  final case class FuzzyLookup(name: String, refTable: String,
      streamKey: String, refIdColumn: String, refKey: String,
      copyColumns: Seq[(String, String)] = Nil,
      minSimilarity: Double = 0.8,
      simColumn: String = "_Similarity",
      maxMatches: Int = 1) extends Component

  /** Fuzzy Grouping (reference recognize-only, :1114): adds
    * `keyOutColumn` = smallest `idColumn` in the row's near-duplicate
    * connected component (edges = verified pairs at
    * editSimilarity >= minSimilarity over `keyColumn`). */
  final case class FuzzyGrouping(name: String, idColumn: String,
      keyColumn: String, minSimilarity: Double = 0.8,
      keyOutColumn: String = "_key_out") extends Component

  /** Term Extraction (reference recognize-only, :1119): corpus term
    * frequencies of `textColumn` — one shuffle on the term. Output:
    * (term, term_count). */
  final case class TermExtraction(name: String, textColumn: String,
      minCount: Long = 1L) extends Component

  /** Term Lookup (reference recognize-only, :1120): per-row frequency
    * of each reference term in `textColumn`; one output row per
    * (idColumn, term) match. Terms come from `refTable.termColumn`
    * when set, else the inline `terms` list. */
  final case class TermLookup(name: String, idColumn: String,
      textColumn: String, terms: Seq[String] = Nil,
      refTable: String = "", termColumn: String = "") extends Component

  /** Script Component escape hatch (SURVEY §2.9: SSIS script bodies are
    * NOT auto-translatable — the reference also only recognizes them,
    * data_engineering_parser.py:1242-1245). A migration supplies the
    * hand-ported logic as a Scala function over the input frame; the
    * DAG wiring, ports, and scheduling stay declarative. The function
    * must be a pure frame transformation (no driver-side actions) so
    * the component composes like any other. */
  final case class ScriptComponent(name: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
    extends Component

  // ---- routing & set ops (§2.5) ----
  /** Order-sensitive multi-way router. TRUE SSIS semantics: first match
    * wins — output k receives rows matching cond_k and none of
    * cond_1..cond_{k-1}; `defaultOutput` receives the rest. (The
    * reference emits plain independent filters, which double-sends rows
    * matching two conditions — SURVEY §2.5 caveat.) */
  final case class ConditionalSplit(name: String,
      cases: Seq[(String, String)],               // (outputPort, ssisCondition)
      defaultOutput: String = "default") extends Component
  /** Fan one input out to N identical outputs; the parent is
    * checkpointed once (`PipelineContext.persist`) when there are two or
    * more outputs. */
  final case class Multicast(name: String, outputs: Seq[String]) extends Component
  final case class UnionAll(name: String) extends Component

  // ---- rowset ops (§2.6) ----
  final case class Aggregate(name: String, groupBy: Seq[String],
      aggs: Seq[(String, String, String)]) extends Component // (op, col, alias)
  /** SSIS Aggregate with MULTIPLE aggregation outputs (a supported
    * designer feature): each output port runs an independent group-by
    * over the SAME input. `outputs`: (portName, groupBy, aggs). The
    * input persists when more than one port exists, so the scan isn't
    * repeated per aggregation. */
  final case class MultiAggregate(name: String,
      outputs: Seq[(String, Seq[String], Seq[(String, String, String)])])
    extends Component
  final case class Sort(name: String, keys: Seq[(String, Boolean)],
      eliminateDuplicates: Boolean = false) extends Component
  /** Deterministic sampling by key-hash bucket (scale-safe analog of
    * SSIS Percentage Sampling; rand()-based sampling can't be oracle-
    * checked). */
  final case class Sampling(name: String, keyColumn: String,
      buckets: Int, keep: Int) extends Component
  /** SSIS Percentage Sampling proper: seeded Bernoulli sample —
    * deterministic per (seed, partitioning) but not engine-portable, so
    * unit-tested rather than oracle-checked. Emits BOTH SSIS ports:
    * "out" (selected) and "unselected" (the complement — every row
    * leaves on exactly one port). Prefer [[Sampling]] when
    * reproducibility across engines matters. */
  final case class RandomSampling(name: String, percent: Double,
      seed: Long) extends Component
  /** SSIS Row Sampling: exactly `rows` random rows (seeded). Executes
    * as orderBy(rand(seed)).limit(n) — Spark's TakeOrderedAndProject
    * keeps only the per-partition top-N and merges N rows on the
    * driver, so no global sort materializes at scale. */
  final case class RowCountSampling(name: String, rows: Int,
      seed: Long) extends Component
  /** `renames`: (pivotValue, outputName) — SSIS Pivot output columns
    * may be named differently from the pivot-key value they hold. */
  final case class Pivot(name: String, groupBy: Seq[String], pivotColumn: String,
      pivotValues: Seq[String], valueColumn: String, aggOp: String = "first",
      renames: Seq[(String, String)] = Nil) extends Component
  /** `keyValues`: (valueColumn, pivotKeyValue) — SSIS Unpivot lets each
    * unpivoted column emit a custom key value (default: its own name). */
  final case class Unpivot(name: String, idColumns: Seq[String],
      valueColumns: Seq[String], keyName: String = "key",
      valueName: String = "value",
      keyValues: Seq[(String, String)] = Nil) extends Component

  /** SSIS Slowly Changing Dimension component (§2.7, reference
    * recognize-only): a ROUTER comparing each feed row against
    * `refTable` on `keys` — ports "new", "fixedattr" (violation),
    * "historical" (Type-2 attrs), "changed" (Type-1 attrs),
    * "unchanged", by SSIS precedence (see ops.Mutations.scdRoute).
    * Downstream destinations implement the actual Type-1/Type-2 writes. */
  final case class ScdRouter(name: String, refTable: String,
      keys: Seq[String], changing: Seq[String],
      historical: Seq[String] = Nil,
      fixed: Seq[String] = Nil) extends Component

  // ---- audit / counters (§2.7) ----
  /** Row count into a pipeline variable via `observe` — no extra job
    * (SURVEY §2.7: preferred over count() at 100 TB). */
  final case class RowCount(name: String, variable: String) extends Component

  // ---- sinks (§2.2) ----
  sealed trait WriteMode
  object WriteMode { case object Append extends WriteMode
                     case object Overwrite extends WriteMode }
  /** `columnMap` (inputCol, targetCol) projects+renames before the
    * write (dtsx destinations map cached→external columns; unmapped
    * target columns are the sink's concern — overCatalog fills NULL). */
  final case class Destination(name: String, target: String,
      mode: WriteMode = WriteMode.Append,
      columnMap: Seq[(String, String)] = Nil) extends Component
  /** File sink via DataFrameWriter (reference writes CSV/Parquet/Delta,
    * enhanced_json_mapper.py:442-493, 2042-2138). `format`:
    * parquet|csv|json. */
  final case class FileDestination(name: String, path: String,
      format: String = "parquet", mode: WriteMode = WriteMode.Overwrite,
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil) extends Component
  /** ACID versioned-table sink — the reference's Delta destination
    * (enhanced_json_mapper.py:2042-2074 writes `format("delta")` and
    * MERGEs on Databricks), served by the in-repo
    * [[graft.sources.VersionedTable]] so a dataflow lands in a table
    * with snapshots, time travel, and OCC instead of bare files.
    * `mode`: "create" (version 1; the root must be fresh),
    * "createOrAppend", "append", or "merge" (upsert on `keys`;
    * `cdf = true` captures the row delta for readChanges). */
  final case class VersionedDestination(name: String, root: String,
      mode: String = "merge", keys: Seq[String] = Nil,
      cdf: Boolean = false,
      // (inputCol, targetCol) projection+rename before the commit —
      // the SSIS destination column mapping, same as Destination
      columnMap: Seq[(String, String)] = Nil) extends Component

  /** ACID versioned-table source: the latest snapshot, a pinned
    * time-travel `version`, or a data-skipping read when `where` is
    * set (files whose manifest stats exclude the predicate are never
    * opened). */
  final case class SourceVersioned(name: String, root: String,
      version: Option[Long] = None,
      where: Option[org.apache.spark.sql.Column] = None) extends Component

  /** OLE DB Command rewritten set-based (reference rewrites per-row
    * DML/proc calls, enhanced_json_mapper.py — RBAR is not a Spark
    * shape): stages the per-row parameter tuples into `table` in ONE
    * write instead of a call per row, and passes its input through
    * like the SSIS component does. `columns` projects the staged
    * parameters in declaration order. */
  final case class StagedCommand(name: String, table: String,
      columns: Seq[String] = Nil) extends Component

  /** OLE DB Command carrying its ORIGINAL per-row SQL (SURVEY §7.3's
    * escape hatch; reference emits these as comment blocks,
    * enhanced_json_mapper.py:2541-2665). Execution is context-routed:
    * when `connRef` resolves in the pipeline's connection registry the
    * command runs LIVE as batched JDBC ([[graft.sources.Jdbc
    * .executePerRow]] — the non-MERGE-rewritable stored-proc shape);
    * otherwise it degrades to the [[StagedCommand]] stance, staging
    * the parameter tuples into `stagingTable` for a server-side call.
    * Either way the input passes through, as the SSIS component's
    * does. `?` placeholders bind from `paramCols` in order. */
  final case class PerRowCommand(name: String, connRef: String,
      sql: String, paramCols: Seq[String], stagingTable: String,
      batchSize: Int = 1000) extends Component

  /** JDBC sink (reference: enhanced_json_mapper.py:2076-2138): batched
    * inserts through a connection-manager config; see graft.sources.Jdbc
    * for the no-driver-jar caveat and the staging-table guidance. */
  final case class JdbcDestination(name: String,
      conn: graft.sources.Jdbc.ConnectionDef, dbtable: String,
      mode: WriteMode = WriteMode.Append,
      batchSize: Int = 10000) extends Component

  /** Excel .xlsx sink via the native OOXML writer (reference writes
    * Excel, enhanced_json_mapper.py:2042-2138). Driver-side by design:
    * the format's grid caps at ~1M rows. */
  final case class ExcelDestination(name: String, path: String,
      sheetName: String = "Sheet1") extends Component
  /** Terminates a path, optionally counting (reference trash destination,
    * enhanced_json_mapper.py:368-377). */
  final case class TrashDestination(name: String,
      countInto: Option[String] = None) extends Component
  /** SSIS Recordset Destination (recognized as a destination by the
    * reference's name routing, data_engineering_parser.py:501-507):
    * materializes its input into the pipeline variable as a driver-side
    * row list — SSIS's in-memory ADO recordset semantics, the feed for
    * ForEach ADO enumerators. Driver-bounded BY DESIGN: recordsets hold
    * loop/config tables, not data-scale frames (same stance as the
    * Excel writer); `maxRows` fails loudly if a plan aims a big frame
    * at one. */
  final case class RecordsetDestination(name: String, variable: String,
      maxRows: Int = 1000000) extends Component
}

/** An edge in the data-flow DAG: `from`'s output port feeds `to`'s input
  * port. Ports: most components expose "out"; ConditionalSplit exposes
  * its case ports + default; Multicast its declared outputs; MergeJoin
  * consumes "left"/"right"; UnionAll/MergeSorted consume any number of
  * edges on "in". */
final case class Path(from: String, to: String,
    fromPort: String = "out", toPort: String = "in")

final case class DataFlow(name: String, components: Seq[Component], paths: Seq[Path])

// ---------------- control flow (§2.7) ----------------

sealed trait CfTask { def name: String }
object CfTask {
  /** Execute SQL Task: DDL/DML/SELECT against the session catalog
    * (reference: enhanced_json_mapper.py:380-438). `resultInto` binds a
    * scalar SELECT result to a variable. */
  final case class SqlTask(name: String, sql: String,
      resultInto: Option[String] = None) extends CfTask
  final case class DataFlowTask(name: String, flow: DataFlow) extends CfTask
  /** Driver-side foreach over a value list, binding `variable` per
    * iteration (SSIS Foreach Loop container). */
  final case class ForEach(name: String, variable: String, values: Seq[Any],
      body: Seq[CfTask]) extends CfTask
  /** SSIS Foreach ADO enumerator: iterates the recordset stored in
    * `sourceVariable` (filled by a RecordsetDestination), binding
    * column `columnIndex` of each row to `variable` — the
    * recordset-driven loop SSIS uses for key lists and work queues.
    * Driver-side by the same design as the recordset itself. */
  final case class ForEachAdo(name: String, variable: String,
      sourceVariable: String, columnIndex: Int = 0,
      body: Seq[CfTask] = Nil) extends CfTask
  /** SSIS For Loop container (reference: models.py:18-20): driver-side
    * loop over `variable` — `init`/`assign` are SSIS value expressions
    * for the variable (the assignment RHS), `whileExpr` the
    * EvalExpression gate. */
  final case class ForLoop(name: String, variable: String,
      init: Option[String], whileExpr: String, assign: Option[String],
      body: Seq[CfTask]) extends CfTask
  final case class Sequence(name: String, body: Seq[CfTask]) extends CfTask
}

sealed trait EdgeCondition
object EdgeCondition {
  case object OnSuccess extends EdgeCondition
  case object OnFailure extends EdgeCondition
  case object OnCompletion extends EdgeCondition
  /** Expression constraint over pipeline variables, e.g.
    * `@[User::SourceRowCount] > 0` (Sample_Medium_Package.dtsx:905).
    * `orMode=false` → expression AND status constraint (EvalOp=3);
    * `orMode=true` → expression OR status constraint (EvalOp=4). */
  final case class ExpressionEdge(expr: String,
      and: EdgeCondition = OnSuccess,
      orMode: Boolean = false) extends EdgeCondition
}

/** `logicalAnd=false` is SSIS LogicalAnd=False: when ANY incoming edge
  * of a task carries it, ONE satisfied incoming constraint suffices
  * (OR across edges) instead of all (the SSIS default). */
final case class PrecedenceEdge(from: String, to: String,
    condition: EdgeCondition = EdgeCondition.OnSuccess,
    logicalAnd: Boolean = true)

final case class PipelineSpec(name: String, tasks: Seq[CfTask],
    edges: Seq[PrecedenceEdge],
    variables: Map[String, Any] = Map.empty)
