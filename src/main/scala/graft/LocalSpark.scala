package graft

import org.apache.spark.sql.SparkSession

/** The configured local session every graft main, spec and tool starts
  * from: `local[cpus]`, a fresh temp warehouse, one shuffle partition
  * per core, UTC, graft's SQL extensions and no UI. Embedded Derby's
  * home is pointed at a temp dir ([[graft.sources.Jdbc.derbyHome]])
  * before anything can boot it, so no run leaves `derby.log` or
  * database dirs in the working directory. The warehouse is deleted
  * when the JVM exits, after Spark's own shutdown hooks have stopped
  * the session, so no run leaves a `graft_wh*` directory behind in the
  * temp directory either. Callers add their own `.config` lines to the
  * returned builder, then `getOrCreate()`. */
object LocalSpark {
  def builder(cpus: Int): SparkSession.Builder = {
    graft.sources.Jdbc.derbyHome
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh")
    // Hadoop runs its shutdown hooks in descending priority; Spark stops
    // its context at FileSystem's priority + 30, so this runs after it
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(warehouse.toFile),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }
}
