package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** The benchmark's local filesystem, under the `pblocal://` scheme: Hadoop's
  * raw local filesystem, except that file statuses read owner, group and
  * permission through java.nio when asked. Without the native Hadoop
  * library the raw local status forks an `ls -ld` process for each, a cost
  * of the local stand-in that no distributed store pays, and one that would
  * swamp the engine's own listing costs. Checksums are not written, as on
  * a store that keeps its own.
  */
class LocalFs extends RawLocalFileSystem {
  protected def scheme: String = "pblocal"
  override def getUri: java.net.URI = java.net.URI.create(s"$scheme:///")

  private val local = new RawLocalFileSystem()

  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    local.initialize(java.net.URI.create("file:///"), conf)
  }

  private def localPath(p: Path): Path = new Path("file", null, makeQualified(p).toUri.getPath)
  private def status(st: FileStatus): FileStatus =
    new NioStatus(st, new Path(scheme, null, st.getPath.toUri.getPath))

  override def listStatus(f: Path): Array[FileStatus] = local.listStatus(localPath(f)).map(status)
  override def getFileStatus(f: Path): FileStatus = status(local.getFileStatus(localPath(f)))
}

/** A local file status re-addressed under another scheme, whose owner,
  * group and permission load lazily through java.nio.
  */
final class NioStatus(under: FileStatus, p: Path) extends FileStatus(under.getLen,
    under.isDirectory, under.getReplication, under.getBlockSize, under.getModificationTime,
    under.getAccessTime, null, null, null, p) {
  private lazy val attrs = java.nio.file.Files.readAttributes(
    java.nio.file.Paths.get(p.toUri.getPath),
    classOf[java.nio.file.attribute.PosixFileAttributes],
    java.nio.file.LinkOption.NOFOLLOW_LINKS)
  override def getPermission: FsPermission = {
    import java.nio.file.attribute.PosixFilePermission._
    val ps = attrs.permissions()
    val bits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE,
      GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      .foldLeft(0)((acc, b) => (acc << 1) | (if (ps.contains(b)) 1 else 0))
    new FsPermission(bits.toShort)
  }
  override def getOwner: String = attrs.owner().getName
  override def getGroup: String = attrs.group().getName
}

/** [[LocalFs]] under the `pbfs://` scheme, counting the calls a traced run
  * attributes to its operations. Counters are JVM-global; the benchmark's
  * single client reads them around each operation.
  */
class CountingFs extends LocalFs {
  import CountingFs._
  override protected def scheme: String = "pbfs"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(Open); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    hit(List); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    hit(Status); super.getFileStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    hit(Rename); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    hit(Delete); super.delete(p, recursive)
  }
}

object CountingFs {
  val Kinds: IndexedSeq[String] = IndexedSeq("open", "list", "status", "create", "rename", "delete")
  private val Open = 0; private val List = 1; private val Status = 2
  private val Create = 3; private val Rename = 4; private val Delete = 5
  private val counts = new AtomicLongArray(Kinds.size)
  private def hit(k: Int): Unit = counts.incrementAndGet(k)
  def snapshot(): Array[Long] = Kinds.indices.map(counts.get).toArray
}

/** One timed region of the benchmark's own code: an operation (no parent)
  * or a call into the engine inside one. Wall-clock milliseconds place it
  * against Spark's job timestamps; nanoseconds give its duration.
  */
final class Span(val id: Int, val parent: Int, val name: String, val label: String,
    val cycle: Int, val traced: Boolean) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = startNs
  var endMs: Long = startMs
  var fsStart: Array[Long] = Array.empty
  var fsEnd: Array[Long] = Array.empty
  var failed: Boolean = false
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
  def fsDelta(k: Int): Long = if (fsEnd.isEmpty) 0L else fsEnd(k) - fsStart(k)
}

/** In-memory span recorder for the single client thread. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var cycle: Int = -1
  var countFs: Boolean = false

  def span[T](name: String, label: String = "")(body: Span => T): T = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, label, cycle, countFs)
    if (countFs) s.fsStart = CountingFs.snapshot()
    spans += s
    stack = s :: stack
    try body(s)
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      if (countFs) s.fsEnd = CountingFs.snapshot()
      stack = stack.tail
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Wall time of `s` not covered by its direct children. */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","label":"${s.label}",""" +
      s""""cycle":${s.cycle},"traced":${s.traced},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"dur_ms":${Json.num(s.ms)},"failed":${s.failed},""" +
      s""""attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-job Spark runtime totals, fed by a [[SparkListener]] the benchmark
  * installs for its traced cycles only.
  */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val m = new java.util.concurrent.atomic.AtomicLongArray(JobLedger.Metrics.size)
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def add(stage: Int, k: Int, v: Long): Unit =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).foreach(_.m.addAndGet(k, v))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(e.stageInfo.stageId, JobLedger.Stages, 1L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = e.stageId
    add(s, JobLedger.Tasks, 1L)
    Option(e.taskMetrics).foreach { t =>
      add(s, JobLedger.RunMs, t.executorRunTime)
      add(s, JobLedger.InBytes, t.inputMetrics.bytesRead)
      add(s, JobLedger.ShWrite, t.shuffleWriteMetrics.bytesWritten)
      add(s, JobLedger.ShRead, t.shuffleReadMetrics.totalBytesRead)
      add(s, JobLedger.OutBytes, t.outputMetrics.bytesWritten)
      add(s, JobLedger.OutRows, t.outputMetrics.recordsWritten)
    }
  }

  /** Jobs that started inside [startMs, endMs]. */
  def jobsIn(startMs: Long, endMs: Long): Seq[Job] =
    jobs.values().asScala.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq

  /** Summed durations of the jobs that started inside [startMs, endMs]; a
    * job still running at `endMs` counts up to it. Overlapping jobs count
    * twice, and a job that outlives the window counts whole.
    */
  def jobMs(startMs: Long, endMs: Long): Long =
    jobsIn(startMs, endMs).map(j => (if (j.endMs < 0) endMs else j.endMs) - j.startMs).sum

  /** Milliseconds of [startMs, endMs] during which at least one job ran. */
  def busyMs(startMs: Long, endMs: Long): Long = {
    val iv = jobsIn(startMs, endMs)
      .map(j => (j.startMs, math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

object JobLedger {
  val Metrics: IndexedSeq[String] = IndexedSeq("stages", "tasks", "executor_run_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes", "output_rows")
  val Stages = 0; val Tasks = 1; val RunMs = 2; val InBytes = 3
  val ShWrite = 4; val ShRead = 5; val OutBytes = 6; val OutRows = 7
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
