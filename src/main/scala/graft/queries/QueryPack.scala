package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One group of driver-checkable queries.
  *
  * Conventions (driver compare contract, see builder prompt):
  *   - every query is deterministic: explicit orderBy on a unique,
  *     non-null key set (Spark sorts nulls first, DuckDB last — so
  *     sort keys must be non-null or the oracle says NULLS FIRST);
  *   - money aggregates go through integer cents
  *     (`round(x*100)::bigint`) so Spark and DuckDB sums are
  *     bit-identical, then back to double via exact IEEE ops;
  *   - column names are aliased identically in the Spark plan and
  *     the oracle SQL (driver sorts columns by name before hashing).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  /** DuckDB-runnable ANSI SQL per query key; omit a key for
    * non-SQL-expressible ops (driver falls back to rows>0 check). */
  def oracles: Map[String, String]
  /** Shared memoized fixtures (churned corpora + maintained indexes)
    * several queries ride on. Exposed so Bench can PRE-BUILD them in
    * a named, separately-timed phase — otherwise the first family
    * member in run order silently absorbs the build into its own
    * timing (the r17 q186 accounting artifact). Each builder is
    * idempotent per (warehouse, dir); queries still build lazily when
    * run outside Bench (Verify, specs). */
  def fixtures: Map[String, (SparkSession, String) => Unit] = Map.empty
  /** Which query names ride each fixture — lets Bench SKIP a fixture
    * no selected query uses (a targeted SPARK_GRAFT_ONLY sweep must
    * not pay unrelated multi-index builds). A fixture key absent here
    * is built unconditionally (conservative). */
  def fixtureUsers: Map[String, Set[String]] = Map.empty

  /** `name` under the session's per-run temp warehouse (every
    * entrypoint creates a fresh one), not a fixed java.io.tmpdir path:
    * concurrent runs on a shared machine get disjoint locations. */
  protected def tmp(s: SparkSession, name: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val whPath =
      if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh
    s"$whPath/$name"
  }
}
