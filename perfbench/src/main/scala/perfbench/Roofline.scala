package perfbench

/** Ceilings the cosine kernel is compared against. */
object Roofline {

  /** 128-d dot products per second on one core: a tight loop over the
    * index's own vectors against one of them, float inputs widened and
    * accumulated in double as the engine's kernel does. Best of five
    * passes, so the figure is the core's, not the scheduler's. */
  def dotsPerCoreSecond(vectors: Array[Array[Float]]): Double = {
    val q = vectors(0)
    var best = Long.MaxValue
    var sink = 0.0
    for (_ <- 1 to 5) {
      val t = System.nanoTime()
      var r = 0
      while (r < vectors.length) {
        val v = vectors(r)
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
        sink += dot
        r += 1
      }
      best = math.min(best, System.nanoTime() - t)
    }
    if (sink.isNaN) System.err.println("roofline: NaN dot product")
    vectors.length / (best / 1e9)
  }
}
