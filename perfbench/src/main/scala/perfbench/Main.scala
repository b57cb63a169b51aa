package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one workload, one seed, one run.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --report <file>
  * }}}
  *
  * The run builds a session on `local[min(2, CPUs)]`, sets the workload up three
  * times from the seed (`setup_s` is the median), then repeats the
  * workload's cycle from the last set-up state until `--seconds` have
  * passed (at least one cycle), and verifies. Operations are issued one
  * at a time. The workload's directory is wiped before every set-up and at
  * the end. The last stdout line is the result object; the report file
  * holds it with the environment stamp, the tail ranks and sample counts,
  * the per-cycle figures and (when traced) every span.
  *
  * With `--trace 1` the run measures three times, each from its own
  * set-up: untraced, traced (roots addressed through [[CountingFs]], a
  * [[JobLedger]] listening), and untraced again. The per-layer metrics come
  * from the traced cycles; the last untraced ones give the tracing
  * overhead on the same code.
  */
object Main {

  final case class Cycle(index: Int, traced: Boolean, wallS: Double, usage: Layout.Usage)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (opts.get("workload").contains("train")) return train(Paths.get(opt("work")).toAbsolutePath.normalize)
    val workload = Workload.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.normalize
    val report = Paths.get(opt("report"))

    val marks = mutable.ArrayBuffer.empty[(String, Double)]
    def mark(what: String): Unit =
      marks += what -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    mark("jvm_start")
    val tSession = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val workDir = work.resolve(workload.name).toString
    val run = new Run(spark, seed, workDir)
    val ledger = new JobLedger
    val setups = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val hardStopNs = 140L * 1000 * 1000 * 1000
    val start = System.nanoTime()
    var errors = List.empty[String]

    def wipe(): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"file://$workDir")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    def setup(): Unit = {
      mark("setup")
      wipe()
      val t0 = System.nanoTime()
      workload.setup(run)
      setups += (System.nanoTime() - t0) / 1e9
    }

    /** Cycles until `seconds` have passed, at least one; then verify. */
    def measure(traced: Boolean): Unit = {
      run.takeExcludedNs()
      val t0 = System.nanoTime()
      var n = 0
      while ((n < 1 || System.nanoTime() - t0 < seconds * 1e9) &&
          System.nanoTime() - start < hardStopNs) {
        run.tracer.cycle = cycles.size
        val t1 = System.nanoTime()
        workload.cycle(run)
        val wallS = (System.nanoTime() - t1 - run.takeExcludedNs()) / 1e9
        cycles += Cycle(cycles.size, traced, wallS, Layout.usage(run))
        n += 1
      }
      mark("measured")
      workload.verify(run)
      mark("verified")
    }

    // An untraced run sets up three times (setup_s is their median) and
    // measures from the last set-up state. A traced run measures three
    // times, each from its own set-up: untraced to warm the JVM, traced,
    // and untraced again, so the last two give the tracing overhead on the
    // same code.
    try {
      if (!traceRun) {
        (1 to 3).foreach(_ => setup())
        measure(traced = false)
      } else {
        setup()
        measure(traced = false)
        run.traced = true
        run.tracer.countFs = true
        spark.sparkContext.addSparkListener(ledger)
        try {
          setup()
          measure(traced = true)
        } finally {
          org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(ledger)
          run.tracer.countFs = false
          run.traced = false
        }
        setup()
        measure(traced = false)
      }
    } catch {
      case e: Throwable =>
        errors = s"${e.getClass.getName}: ${e.getMessage}".take(2000) :: errors
        e.printStackTrace()
    } finally wipe()
    val peakRssMb = Proc.peakRssMb()

    val correct = errors.isEmpty && run.mismatches.isEmpty && run.failed == 0 && cycles.nonEmpty
    // a failed operation also ends the run with its error: count it once
    val failed = math.max(run.failed, errors.size.toLong) + run.mismatches.size
    val measured = run.tracer.spans.filter(s => s.parent < 0 && s.cycle >= 0)
    val metrics: Seq[(String, Double, String)] =
      if (!traceRun)
        endToEnd(setups.toSeq, cycles.toSeq, measured.toSeq, run.peakLiveHeapBytes / 1048576.0)
      else Layers.metrics(run.tracer, ledger, cycles.toSeq, sessionS)

    val metricJson = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val result = s"""{"correct":$correct,"attempted":${math.max(1L, run.attempted)},""" +
      s""""failed":$failed,"metrics":$metricJson}"""

    val samples = Seq("write", "read").map { k =>
      val xs = measured.filter(s => s.name == s"op.$k" && !s.traced && !s.failed).map(_.ms).toSeq
      s""""$k":{"samples":${xs.size},"tail_rank":${Json.num(Stats.tailRank(xs.size))}}"""
    }.mkString("{", ",", "}")
    val opMix = measured.filter(!_.traced).groupBy(s => s"${s.name.stripPrefix("op.")}:${s.label}")
      .toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${v.size}" }.mkString("{", ",", "}")
    val env = s"""{"master":${Json.str(spark.sparkContext.master)},""" +
      s""""spark_version":${Json.str(spark.version)},""" +
      s""""jvm_version":${Json.str(System.getProperty("java.version"))},""" +
      s""""jvm_procs":${Runtime.getRuntime.availableProcessors}}"""
    val cyc = cycles.map { c =>
      s"""{"index":${c.index},"traced":${c.traced},"wall_s":${Json.num(c.wallS)},""" +
        s""""files_out":${c.usage.liveFiles},"space_amp":${Json.num(c.usage.spaceAmp)}}"""
    }.mkString("[", ",", "]")
    mark("reported")
    val timeline = marks.map { case (k, v) => s"[${Json.str(k)},${Json.num(v)}]" }.mkString("[", ",", "]")
    val detail = s"""{"result":$result,"workload":${Json.str(workload.name)},"seed":$seed,""" +
      s""""seconds":${Json.num(seconds)},"trace":$traceRun,"env":$env,""" +
      s""""session_s":${Json.num(sessionS)},"vmhwm_mb":${Json.num(peakRssMb)},""" +
      s""""peak_heap_after":${Json.str(run.peakLiveHeapAfter)},""" +
      s""""timeline_s":$timeline,""" +
      s""""latency":$samples,"op_mix":$opMix,""" +
      s""""setups_s":[${setups.map(Json.num).mkString(",")}],"cycles":$cyc,"mismatches":[${run.mismatches.take(50).map(Json.str).mkString(",")}],""" +
      s""""errors":[${errors.map(Json.str).mkString(",")}],""" +
      s""""spans":${if (traceRun) run.tracer.toJson else "[]"}}"""
    Files.createDirectories(report.toAbsolutePath.getParent)
    Files.write(report, detail.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    println(result)
    if (!correct) sys.exit(1)
  }

  /** The engine's session on `local[min(2, CPUs)]`, with the benchmark's
    * filesystems registered.
    */
  private def session(): SparkSession = {
    val spark = graft.SparkEnv.session("perfbench", math.min(2, Runtime.getRuntime.availableProcessors))
    spark.sparkContext.hadoopConfiguration.set("fs.pblocal.impl", classOf[LocalFs].getName)
    spark.sparkContext.hadoopConfiguration.set("fs.pbfs.impl", classOf[CountingFs].getName)
    spark
  }

  /** One set-up, cycle and check of every workload in this JVM, so that a
    * class-data-sharing archive dumped at its exit holds the classes every
    * run loads.
    */
  private def train(work: java.nio.file.Path): Unit = {
    val spark = session()
    val dir = work.resolve("train").toString
    val wipe = new org.apache.hadoop.fs.Path(s"file://$dir")
    Workload.all.foreach { w =>
      val run = new Run(spark, 0L, dir)
      wipe.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wipe, true)
      w.setup(run); w.cycle(run); w.verify(run)
      require(run.mismatches.isEmpty, s"training ${w.name}: ${run.mismatches.mkString("; ")}")
    }
    wipe.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wipe, true)
    spark.stop()
  }

  private def endToEnd(setups: Seq[Double], cycles: Seq[Cycle], ops: Seq[Span],
      peakHeapMb: Double): Seq[(String, Double, String)] = {
    def lat(kind: String) = ops.filter(s => s.name == s"op.$kind" && !s.failed).map(_.ms)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def tail(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.tail(xs)._1
    Seq(
      ("setup_s", med(setups), "s"),
      ("wall_s", med(cycles.map(_.wallS)), "s"),
      ("write_p50_ms", med(lat("write")), "ms"),
      ("write_tail_ms", tail(lat("write")), "ms"),
      ("read_p50_ms", med(lat("read")), "ms"),
      ("read_tail_ms", tail(lat("read")), "ms"),
      ("files_out", med(cycles.map(_.usage.liveFiles.toDouble)), "count"),
      ("space_amp", med(cycles.map(_.usage.spaceAmp)), "ratio"),
      ("peak_heap_mb", peakHeapMb, "MB"))
  }
}

object Proc {
  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  } catch { case _: Exception => Double.NaN }
}
