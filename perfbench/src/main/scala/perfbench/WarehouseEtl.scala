package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Compact, Migrate, Reconcile}

/** The reference's own job (TransTablePartition then HDFSMerge): migrate
  * seeded 8-day windows of `lineitem` into the two-level
  * `par_key=<day>/par_sub=<returnflag>` layout, reconcile each window
  * against its source, re-run the first window extended by four days with
  * `skipExisting = true`, compact the migrated tree, and reconcile the
  * compacted tree. Plain parquet only: no snapshot manifest, MV or stream
  * state is touched, so this is the control for table-layer changes.
  *
  * A cycle starts from empty destinations and issues 5 writes (3 migrates,
  * the skip re-run, the compaction) and 4 reads (the reconciles).
  */
object WarehouseEtl extends Workload {
  val name = "warehouse_etl"

  private val Day0 = LocalDate.of(1995, 1, 1)
  private val Days = 60
  private val PerDay = 60
  private val SourceFiles = 2
  private val Sub = Migrate.SubPart("l_returnflag", pattern = None, name = "par_sub")

  private var rows: IndexedSeq[Row] = IndexedSeq.empty
  private var windows: Seq[(LocalDate, LocalDate)] = Nil
  private var src = ""
  private var migrated = ""
  private var compacted = ""
  /** (ranges reconciled, (leaf, status) rows it returned). */
  private val reconciled = mutable.ArrayBuffer.empty[(Seq[(LocalDate, LocalDate)], Seq[(String, String)])]
  private var cycles = 0

  private def skipRange: (LocalDate, LocalDate) = (windows.head._1, windows.head._2.plusDays(4))

  def setup(run: Run): Unit = {
    rows = Gen.lineitem(run.seed, Day0, Days, PerDay)
    val d = new Gen.Draws(run.seed, 11L)
    // three disjoint windows; the skip re-run's extension of the first
    // stays clear of the second, so every seed skips the same share
    windows = (0 until 3).map { k =>
      val s = Day0.plusDays(k * 20L + d.int(5))
      (s, s.plusDays(7))
    }
    src = run.stage("lineitem", rows, Gen.lineitemSchema, SourceFiles)
    migrated = run.out("migrated")
    compacted = run.out("compacted")
    reconciled.clear()
    cycles = 0
  }

  def cycle(run: Run): Unit = {
    val spark = run.spark
    run.check {
      Seq(migrated, compacted).foreach { r =>
        val p = new org.apache.hadoop.fs.Path(r)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    windows.foreach { case (s, e) =>
      migrate(run, "migrate", s, e, skipExisting = false)
      reconcile(run, Seq((s, e)), migrated)
    }
    migrate(run, "migrate_skip", skipRange._1, skipRange._2, skipExisting = true)
    var before = 0L
    run.ifTraced { before = Compact.pathStats(spark, compacted)._1 }
    val st = run.write("compact") {
      run.call("compact.call") { _ =>
        Compact.rewritePartitioned(spark, migrated, compacted,
          partKeyCol = "l_shipdate", subPart = Some(Sub))
      }
    }
    run.ifTraced {
      val sp = run.tracer.spans.last
      val (files, bytes) = Compact.pathStats(spark, compacted)
      sp.attrs("files_in") = st.filesBefore.toDouble
      sp.attrs("files_out") = (files - before).toDouble
      sp.attrs("bytes_out") = bytes.toDouble
    }
    reconcile(run, windows :+ skipRange, compacted)
    cycles += 1
  }

  private def migrate(run: Run, label: String, s: LocalDate, e: LocalDate,
      skipExisting: Boolean): Unit = {
    var before = 0L
    run.ifTraced { before = Compact.pathStats(run.spark, migrated)._1 }
    val r = run.write(label) {
      run.call("migrate.call") { _ =>
        Migrate.migrateRange(run.spark, src, migrated, dateCol = "l_shipdate",
          start = s.toString, end = e.toString, skipExisting = skipExisting,
          subPart = Some(Sub))
      }
    }
    run.ifTraced {
      val sp = run.tracer.spans.filter(_.name == "migrate.call").last
      sp.attrs("partitions_written") = r.partitionsWritten.toDouble
      sp.attrs("partitions_skipped") = r.partitionsSkipped.toDouble
      sp.attrs("files_out") = (Compact.pathStats(run.spark, migrated)._1 - before).toDouble
      if (skipExisting) sp.attrs("skip_run") = 1.0
    }
  }

  private def inRanges(ranges: Seq[(LocalDate, LocalDate)]): Column =
    ranges.map { case (s, e) =>
      col("l_shipdate") >= lit(s"$s 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit(s"${e.plusDays(1)} 00:00:00").cast("timestamp")
    }.reduce(_ || _)

  /** Reconcile.diff of the source and a destination over `ranges`, at
    * (day, return flag) grain — the reference's checkFile at row level.
    */
  private def reconcile(run: Run, ranges: Seq[(LocalDate, LocalDate)], dst: String): Unit = {
    val spark = run.spark
    val got = run.read("reconcile") {
      run.call("reconcile.call") { _ =>
        val s = spark.read.parquet(src)
        val d = spark.read.parquet(dst).select(s.columns.toIndexedSeq.map(col): _*)
        val key = concat_ws("/", date_format(col("l_shipdate"), "yyyyMMdd"), col("l_returnflag"))
        Reconcile.diff(Reconcile.manifest(s.filter(inRanges(ranges)), key),
          Reconcile.manifest(d.filter(inRanges(ranges)), key))
          .select("par_key", "status").collect()
      }
    }
    run.check { reconciled += ((ranges, got.map(r => (r.getString(0), r.getString(1))).toSeq)) }
  }

  /** (day yyyyMMdd, flag) -> rows, recomputed from the generated rows. */
  private def expectedLeaves(ranges: Seq[(LocalDate, LocalDate)]): Map[(String, String), Long] = {
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val days = ranges.flatMap { case (s, e) =>
      Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e)).map(_.toEpochDay)
    }.toSet
    rows.iterator.map { r =>
      (Math.floorDiv(r.getAs[java.sql.Timestamp](9).getTime, 86400000L), r.getString(7))
    }.filter { case (day, _) => days(day) }
      .toSeq.groupBy(identity).map { case ((day, flag), xs) =>
        (LocalDate.ofEpochDay(day).format(fmt), flag) -> xs.size.toLong
      }
  }

  def verify(run: Run): Unit = {
    run.expect(reconciled.size == (windows.size + 1) * cycles,
      s"$name: ${reconciled.size} reconciles recorded, expected ${(windows.size + 1) * cycles}")
    reconciled.foreach { case (ranges, got) =>
      val bad = got.filter(_._2 != "ok")
      run.expect(bad.isEmpty, s"$name: reconcile not ok for ${bad.take(5).mkString(", ")}")
      val want = expectedLeaves(ranges).keySet.map { case (d, f) => s"$d/$f" }
      run.expect(got.map(_._1).toSet == want,
        s"$name: reconciled leaves ${got.size} differ from the ${want.size} expected")
    }
    val leaves = run.spark.read.parquet(compacted).groupBy("par_key", "par_sub").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = expectedLeaves(windows :+ skipRange)
    run.expect(leaves == want,
      s"$name: compacted leaf counts differ (${leaves.size} leaves vs ${want.size} expected)")
  }
}
