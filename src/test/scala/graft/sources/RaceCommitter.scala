package graft.sources

/** Child-process main for [[RaceProcessSpec]]: one INDEPENDENT JVM
  * (own SparkSession, own Hadoop FileSystem instance, no shared
  * client-side state with its siblings) committing `commits` appends
  * to the shared table at `root` through the standard OCC loop —
  * append, and on [[VersionedTable.CommitConflict]] back off and
  * retry against the fresh snapshot. Exits 0 only when every commit
  * landed; any other outcome (crash, stall past the harness timeout)
  * fails the parent spec. */
object RaceCommitter {
  def main(args: Array[String]): Unit = {
    val Array(root, writerIdStr, commitsStr) = args
    val writerId = writerIdStr.toInt
    val commits = commitsStr.toInt
    val spark = graft.LocalSpark.builder(2)
      .appName(s"graft-race-$writerId").getOrCreate()
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(writerId)
      var done = 0
      while (done < commits) {
        try {
          VersionedTable.append(spark, root,
            Seq((writerId * 1000 + done, s"p$writerId-$done",
              writerId.toLong)).toDF("k", "name", "amt"))
          done += 1
        } catch {
          case _: VersionedTable.CommitConflict =>
            Thread.sleep(5 + rnd.nextInt(40))
        }
      }
    } finally spark.stop()
  }
}
