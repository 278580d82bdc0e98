package graft.tools

/** Scratch measurement: incremental vs reference BPE trainer on the
  * real documents vocabulary. Test/runMain graft.tools.BpeTrainBench */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    // the testdata vocabulary is tiny (31 distinct words) — synthesize
    // a crawl-shaped one: 50k distinct words, Zipf counts, letter
    // distribution skewed like natural text
    val rnd = new scala.util.Random(11)
    val letters = "etaoinshrdlcumwfgypbvk"
    def word(): String = (0 until (2 + rnd.nextInt(10)))
      .map(_ => letters(math.min((math.pow(rnd.nextDouble(), 1.7) *
        letters.length).toInt, letters.length - 1))).mkString
    val wc = (1 to 50000).map { i =>
      (word() + i.toString.takeRight(1), (50000.0 / i).toLong max 1L)
    }.distinct
    println(s"vocab=${wc.size} words")
    Seq(256, 1024, 2048).foreach { k =>
      val t0 = System.nanoTime()
      val fast = graft.functions.Bpe.trainOnCounts(wc, k)
      val tFast = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val ref = graft.functions.BpeSpec.trainOnCountsReference(wc, k)
      val tRef = (System.nanoTime() - t1) / 1e9
      require(fast == ref, s"divergence at k=$k")
      println(f"k=$k incremental=$tFast%.2fs reference=$tRef%.2fs " +
        f"speedup=${tRef / tFast}%.1fx identical=true")
    }
  }
}
