package graft

import org.apache.spark.sql.SparkSession

/** The configured local session every graft main, spec and tool starts
  * from: `local[cpus]`, a fresh temp warehouse, one shuffle partition
  * per core, UTC, graft's SQL extensions and no UI. Embedded Derby's
  * home is pointed at a temp dir ([[graft.sources.Jdbc.derbyHome]])
  * before anything can boot it, so no run leaves `derby.log` or
  * database dirs in the working directory. Callers add their own
  * `.config` lines to the returned builder, then `getOrCreate()`. */
object LocalSpark {
  def builder(cpus: Int): SparkSession.Builder = {
    graft.sources.Jdbc.derbyHome
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }
}
