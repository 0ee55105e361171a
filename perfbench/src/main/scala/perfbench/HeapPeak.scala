package perfbench

/** Peak live heap: the heap in use right after a full collection, sampled
  * at operation boundaries outside the timed spans. Raw heap peaks mostly
  * follow when young collections happen to run; the live set does not. */
final class HeapPeak {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    val rt = Runtime.getRuntime
    peak = math.max(peak, rt.totalMemory - rt.freeMemory)
  }

  def reset(): Unit = peak = 0L

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
