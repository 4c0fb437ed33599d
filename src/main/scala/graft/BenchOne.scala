package graft

/** Diagnostic: time individual SparkEntry queries cold, N repetitions
  * each, cache cleared between runs. Usage:
  *   runMain graft.BenchOne <sfDir> <reps> <query> [query ...]
  * Prints per-rep wall times so cache effects / variance are visible —
  * the per-query companion to [[Bench]]'s one-number-per-query sweep.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-bench-one", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // the same machine-state sentinel as Bench: a BenchOne attribution
    // is only as good as the box it ran on (clean ~0.22 s at 32 threads).
    // COLD caveat: this first reading runs in a fresh JVM — it reads
    // 0.1+ s high from JIT/GC ramp (r15 measured 0.36-0.45 cold vs
    // 0.26-0.27 for the SAME box's mid-suite warm calib). The
    // post-warmup reading below is the one comparable to Bench's
    // calib_pre/post — quote THAT in attribution receipts.
    println(f"[benchone] calib-cold               ${Bench.calibrate(spark)}%.2f")
    // same JIT/codegen warmup as Bench
    names.foreach { n =>
      try SparkEntry.gates(n).build(spark, "/root/testdata/sf0.001").frame.write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // warm sentinels, the receipt-grade family: CPU (comparable to the
    // suite's calib_pre/post), io floor, scheduler floor
    println(f"[benchone] calib-warm               ${Bench.calibrate(spark)}%.2f" +
      f"  io ${Bench.calibrateIo()}%.3f  sched ${Bench.calibrateSched(spark)}%.3f")
    // per-rep state snapshot: persistent-RDD count and block-manager
    // storage in use AFTER the unpersist sweep — if either grows across
    // reps, invocations leak driver state (the long-running-driver
    // concern at scale); if both sit at 0/0 while rep TIMES grow, the
    // growth is heap/GC churn of the run itself, not accumulation.
    def stateSnapshot(): String = {
      val nRdd = spark.sparkContext.getPersistentRDDs.size
      val usedMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free) / 1e6 }.sum
      f"rdds=$nRdd%d storeMB=$usedMb%.0f"
    }
    names.foreach { name =>
      System.gc()
      val snaps = new scala.collection.mutable.ArrayBuffer[String]
      val times = (1 to reps).map { _ =>
        Tables.release(spark)
        snaps += stateSnapshot()
        val t0 = System.nanoTime()
        SparkEntry.gates(name).build(spark, sfDir).frame.write
          .format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchone] $name%-24s ${times.map(t => f"$t%.2f").mkString(" ")}")
      println(f"[benchone]   state-pre-rep: ${snaps.mkString("  ")}")
    }
    spark.stop()
  }
}
