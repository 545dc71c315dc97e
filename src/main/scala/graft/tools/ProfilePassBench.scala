package graft.tools

import graft.profiler.{Profiler, ProfilerConfig}

/** Diagnostic: per-pass wall-clock breakdown of a table profile.
  *
  * Usage: runMain graft.tools.ProfilePassBench <sfDir> <table>
  * [exact] [nopersist]
  * Prints one line per profiling pass via
  * [[ProfilerConfig.onPassTiming]], then the total. Run it twice
  * back-to-back to separate steady-state cost from first-run
  * codegen/IO warmup.
  */
object ProfilePassBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val table = if (args.length > 1) args(1) else "lineitem"
    val exact = args.contains("exact")
    val noPersist = args.contains("nopersist")
    val spark = LocalSession("32")

    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    df.count() // warmup: parquet footers + scan codegen

    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      Profiler.profile(df, table, ProfilerConfig(exact = exact,
        persist = !noPersist,
        onPassTiming = (pass, sec) => println(f"[pass-bench] run=$run $pass%-18s $sec%8.3f s")))
      println(f"[pass-bench] run=$run TOTAL              ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    spark.stop()
  }
}
