package graft

import graft.web.Flagship

/** Two-parallelism scaling evidence (north rule: ≥0.8 throughput scaling
  * efficiency from N to 4N executors; BASELINE.md evidences it in-sandbox
  * as the same job at two pinned parallelism levels on identical input).
  *
  *   runMain graft.ScalingBench <cores> <pages>
  * prints one JSON line {"cores":..,"pages":..,"seconds":..,"pps":..}.
  * tools/scaling.sh drives it once per parallelism level, pinning each
  * JVM with `taskset` so a local[N] run cannot borrow idle host cores for
  * GC/JIT — the honest stand-in for separate executors.
  */
object ScalingBench {

  case class Run(cores: Int, pages: Long, seconds: Double) {
    def pagesPerSec: Double = pages / seconds
  }

  /** Warmup + min-of-5 timed geocode runs over pre-materialized parquet
    * (generation and page-cache warming stay outside the timed region;
    * min damps host-VM steal-time noise). */
  def runAt(cores: Int, pages: Long): Run = {
    val spark = Session.start(sys.env.updated(Session.CpusVar, cores.toString))
    // feed every core: default 128 MB splits would give the 2-3 GB bench
    // input fewer read partitions than cores (SURVEY.md §4: size
    // maxPartitionBytes so partitions ≥ 2-4× cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
    val cfg = Bench.benchCfg(pages)
    val dir = Flagship.materializePages(spark, cfg)
    def once(): Double = {
      val t0 = System.nanoTime()
      Bench.consume(Flagship.geocodePages(spark, spark.read.parquet(dir), cfg))
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup: codegen + page cache
    val dt = (1 to 5).map(_ => once()).min
    spark.stop()
    Run(cores, pages, dt)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScalingBench <cores> <pages>")
    val r = runAt(args(0).toInt, args(1).toLong)
    println(s"""{"cores":${r.cores},"pages":${r.pages},"seconds":${r.seconds},"pps":${r.pagesPerSec}}""")
  }
}
