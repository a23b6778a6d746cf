package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_BENCH_REPS>1 times each query that many times and keeps
    // the MINIMUM — the shared box flaps individual readings up to ±2×
    // (BENCHNOTES), and the min is the least noise-contaminated estimate
    // of the plan's cost. Default 1 = the driver's single-pass protocol.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q160_...,q161_... restricts the battery — for
    // scale probes and dial sweeps over a subset on alternate SF dirs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // persist the COMPLETE artifact too: the driver captures stdout with
    // a bounded tail, which truncates at this battery size — the file is
    // the authoritative per-query record (override path via env). Named
    // by core count, so a scaling run at fewer cores keeps the main record
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench/latest_c$cpus.json")
    measure(only, outPath, reps)
  }

  /** Spark task threads: SPARK_GRAFT_CPUS, else every available core. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** The one-line artifact. `partial=true` marks an in-flight write (the
    * per-query checkpointing below); the final write drops the marker so
    * pinned artifacts keep the exact historical format.
    */
  private def artifactLine(results: Seq[(String, Double)], sfDir: String,
      partial: Boolean): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total = wall time spent (failures still took their elapsed time)
    val total = results.map(r => math.abs(r._2)).sum
    val p = if (partial) "\"partial\":true," else ""
    s"""{"metric":"total","value":$total,"unit":"sec",$p"queries":$qs,"sf":"$sfDir","cpus":$cpus}"""
  }

  private def writeArtifact(line: String, outPath: String): Unit =
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }

  /** Scratch preflight (VERDICT r13 #2): the driver's 8-core scaling run
    * died mid-shuffle with a DiskBlockObjectWriter FileNotFoundException —
    * shuffle scratch vanished under a live JVM (box disk pressure).
    * Point spark.local.dir at a TempScratch-managed dir (recursively
    * removed on JVM exit, so a crashed battery can't leak tens of GB of
    * shuffle files into the next run's disk budget) and report free space
    * up front so a doomed run says so in its head, not 35 minutes in.
    * The q296 family alone spills ~15–21 GB at sf0.1.
    */
  private def scratchDir(): String = {
    val d = TempScratch.dir("spark_local")
    val freeGb =
      try java.nio.file.Files.getFileStore(d).getUsableSpace / (1L << 30)
      catch { case _: Throwable => -1L }
    if (freeGb >= 0 && freeGb < 40)
      System.err.println(s"[bench] WARNING: only $freeGb GiB free under $d — " +
        "the battery spills >20 GiB at sf0.1 and may die mid-shuffle")
    else
      System.err.println(s"[bench] shuffle scratch: $d ($freeGb GiB free)")
    d.toString
  }

  /** The measurement loop, shared with BenchClose: fresh session,
    * untimed warmup across the main plan shapes (agg, window,
    * regex+join, higher-order/codegen kernels, ANN) so no timed query
    * absorbs JIT, codegen-compile, or parquet-footer cost for its whole
    * shape class; noop sink forces full evaluation of every output
    * column (count() would let Catalyst prune the projections being
    * benched); a failed query records NEGATIVE elapsed so it can't
    * pass as fast; min-of-reps per query.
    *
    * The artifact file is rewritten after EVERY query (cheap: ~25 KB),
    * so a JVM death mid-battery leaves a partial per-query record
    * (marked "partial":true) instead of nothing — the r13 scaling run
    * produced rc=1 and zero data (VERDICT r13 #2).
    */
  def measure(only: Option[Set[String]], outPath: String, reps: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", scratchDir())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("q01_agg", "q13_window_topk", "q17_text_quality", "q24_ann_bruteforce")
      .foreach { w =>
        try SparkEntry.queries(w)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    names.foreach { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -dt
      }
      results += (name -> (if (times.exists(_ < 0)) times.filter(_ < 0).head
                           else times.min))
      // per-query checkpoint: a partial artifact survives a JVM death
      writeArtifact(artifactLine(results.toSeq, sfDir, partial = true), outPath)
    }
    val line = artifactLine(results.toSeq, sfDir, partial = false)
    writeArtifact(line, outPath)
    // The driver parses a BOUNDED (~2 KB) stdout tail. At 410 queries the
    // full contract line is ~25 KB and has been unparseable two rounds
    // running (PERF_r12/r13 empty — VERDICT r13 #1). Print the full line
    // only when it fits that tail; otherwise print a compact line with
    // the same schema (total + empty queries map + pointer to the full
    // per-query artifact). Either way it is the LAST stdout line.
    val total = results.map(r => math.abs(r._2)).sum
    val stdoutLine =
      if (line.length <= 1500) line
      else s"""{"metric":"total","value":$total,"unit":"sec","queries":{},""" +
        s""""n_queries":${results.size},"queries_file":"$outPath","sf":"$sfDir","cpus":$cpus}"""
    println(stdoutLine)
    spark.stop()
  }
}
