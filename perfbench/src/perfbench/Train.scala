package perfbench

/** The class-data-sharing training run of the build: the workloads once, at
  * a tiny size, traced, in one JVM. The build dumps the classes this run
  * loads into an archive that every benchmark JVM then maps at start, which
  * roughly halves session start and the first, cold set-up. */
object Train {
  // daily_append loads what the other text workloads load too: it runs
  // Dedup.pipeline (its correctness check), CheckpointedPipeline.run and
  // append, and the staged replay of every text layer
  private val TinyInputs = Seq(
    "daily_append" -> Map("index-convs" -> "300", "batch-convs" -> "60"),
    "knn_batch" -> Map("corpus" -> "1000", "queries" -> "8"))

  def main(args: Array[String]): Unit = {
    val work = Main.workDir()
    val spark = Main.session(work)
    try TinyInputs.foreach { case (name, gen) =>
      val wl = Workload(name, spark, Main.dataDir(work), 1L, gen)
      Main.run(spark, 0.0, wl, 1L, 0.0, trace = true, work, warmupOps = 1)
    } finally spark.stop()
  }
}
