package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Snapshots

/** The state one benchmark run threads through its workload: the session,
  * the seed, the workload's own directory, the span recorder, and the
  * operation and correctness counters.
  *
  * Operations are issued by a single client in a closed loop: `write` and
  * `read` run their body to completion before returning, and each is one
  * latency sample. `check` brackets work that is not part of the measured
  * workload (correctness recomputation, trace-only bookkeeping): its time
  * is subtracted from the cycle's wall time.
  */
final class Run(val spark: SparkSession, val seed: Long, val workDir: String) {
  val tracer = new Tracer
  /** Whether the current cycle addresses its roots through [[CountingFs]]
    * (otherwise through [[LocalFs]]).
    */
  var traced: Boolean = false
  var attempted: Long = 0L
  var failed: Long = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var excludedNs = 0L
  private val afterOps = mutable.ArrayBuffer.empty[() => Unit]
  /** The most heap found in use after a full collection; see [[op]]. */
  var peakLiveHeapBytes: Long = 0L
  /** The write after which [[peakLiveHeapBytes]] was read. */
  var peakLiveHeapAfter: String = ""

  private def scheme: String = if (traced) "pbfs://" else "pblocal://"

  /** A path under this workload's directory, on the current scheme. */
  def path(rel: String): String = s"$scheme$workDir/$rel"

  /** Staged inputs; never counted as workload output. */
  def input(name: String): String = path(s"input/$name")

  /** Output roots; [[Layout]] measures files and bytes under `out/`. */
  def out(name: String): String = path(s"out/$name")

  def fs: FileSystem = new Path(path("")).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def write[T](label: String)(body: => T): T = op("write", label)(body)
  def read[T](label: String)(body: => T): T = op("read", label)(body)

  /** One operation. After a write, outside the measured time, a full
    * collection leaves only what the engine and the workload's state
    * still hold on the heap. Jobs the write left running are waited for
    * first: their tasks' working sets are not held state. Blocks in
    * Spark's block store are left out: the engine unpersists its cached
    * frames without waiting, so how many of them are still there depends
    * on timing. A block may go between the collection and the reading of
    * the store, so the store is read on both sides and the larger figure
    * is left out. The largest result is the run's peak live heap.
    */
  private def op[T](kind: String, label: String)(body: => T): T = {
    attempted += 1
    try tracer.span(s"op.$kind", label)(_ => body)
    catch { case e: Throwable => failed += 1; afterOps.clear(); throw e }
    finally check {
      afterOps.foreach(_()); afterOps.clear()
      if (kind == "write") {
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty &&
            System.nanoTime() < deadline) Thread.sleep(5)
        // events still queued for the listeners would count as held
        SparkInternals.drain(spark.sparkContext)
        val stored = SparkInternals.heapStorageBytes()
        System.gc()
        val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val held = used - math.max(stored, SparkInternals.heapStorageBytes())
        if (held > peakLiveHeapBytes) { peakLiveHeapBytes = held; peakLiveHeapAfter = label }
      }
    }
  }

  /** A call into the engine, recorded as a child span of the current op. */
  def call[T](name: String)(body: Span => T): T = tracer.span(name)(body)

  /** Work outside the measured workload; its time leaves the cycle's wall time. */
  def check[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t
  }

  /** Trace-only bookkeeping: runs (outside the measured time) only when the
    * current cycle is traced.
    */
  def ifTraced(body: => Unit): Unit = if (traced) check(body)

  /** Trace-only bookkeeping for the current operation, run once the
    * operation's span has closed, so the filesystem calls and time it
    * takes are charged to neither the operation nor the cycle.
    */
  def afterOp(body: => Unit): Unit = if (traced) afterOps += (() => body)

  def expect(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  def takeExcludedNs(): Long = { val e = excludedNs; excludedNs = 0L; e }

  /** A DataFrame over locally generated rows, written once as parquet
    * under `input/` — the staged fixture the workload's operations read.
    */
  def stage(name: String, rows: Seq[Row], schema: StructType, files: Int): String = {
    val p = input(name)
    frame(rows, schema).repartition(files).write.parquet(p)
    p
  }

  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The current head version of a snapshot root and its live files. */
  def liveFiles(root: String): Set[String] = {
    val vs = Snapshots.versions(spark, root)
    if (vs.isEmpty) Set.empty else Snapshots.files(spark, root, vs.last).toSet
  }
}

/** Files and bytes under a workload's output roots. A live file is one a
  * reader of the current state opens: the head manifest's files for a
  * snapshot table (a directory holding `_snapshots`), every visible
  * `.parquet` file for a plain table.
  */
object Layout {
  final case class Usage(liveFiles: Long, liveBytes: Long, totalBytes: Long) {
    def spaceAmp: Double = if (liveBytes == 0) 0.0 else totalBytes.toDouble / liveBytes
  }

  def usage(run: Run): Usage = {
    val fs = run.fs
    val outDir = new Path(run.path("out"))
    if (!fs.exists(outDir)) return Usage(0, 0, 0)
    val total = fs.getContentSummary(outDir).getLength
    val snapRoots = mutable.ArrayBuffer.empty[Path]
    var plainFiles = 0L; var plainBytes = 0L
    def walk(dir: Path, underSnapshot: Boolean): Unit = {
      val kids = fs.listStatus(dir)
      val isSnap = kids.exists(k => k.isDirectory && k.getPath.getName == "_snapshots")
      if (isSnap) snapRoots += dir
      kids.foreach { k =>
        val n = k.getPath.getName
        if (k.isDirectory) walk(k.getPath, underSnapshot || isSnap)
        else if (!underSnapshot && !isSnap && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")) {
          plainFiles += 1; plainBytes += k.getLen
        }
      }
    }
    walk(outDir, underSnapshot = false)
    val snap = snapRoots.toSeq.map { r =>
      val root = r.toString
      val vs = Snapshots.versions(run.spark, root)
      if (vs.isEmpty) (0L, 0L)
      else {
        val files = Snapshots.files(run.spark, root, vs.last)
        val sized = Snapshots.byteCountsOf(run.spark, root, vs.last)
        val bytes = files.map(f => sized.getOrElse(f,
          fs.getFileStatus(new Path(s"$root/$f")).getLen)).sum
        (files.size.toLong, bytes)
      }
    }
    Usage(plainFiles + snap.map(_._1).sum, plainBytes + snap.map(_._2).sum, total)
  }
}
