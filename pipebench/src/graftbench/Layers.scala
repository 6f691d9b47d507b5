package graftbench

/** Per-layer metrics shared by both workloads. */
object Layers {
  /** The engine underneath, over the spans of every measured op. */
  def spark(r: Result, ops: Seq[Span]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val a = ops.map(_.acc)
    val L = r.layers
    L("spark.jobs_per_op") = a.map(_.jobs).sum / n
    L("spark.tasks_per_op") = a.map(_.tasks).sum / n
    L("spark.task_busy_s_per_op") = a.map(_.taskMs).sum / 1000.0 / n
    L("spark.gc_s_per_op") = a.map(_.gcMs).sum / 1000.0 / n
    L("spark.shuffle_write_bytes_per_op") = a.map(_.shuffleWrite).sum / n
    L("spark.spill_bytes_per_op") = a.map(_.spill).sum / n
    L("spark.driver_gap_share") = ops.map(_.gapMs).sum / math.max(1e-9, ops.map(_.ms).sum)
  }
}
