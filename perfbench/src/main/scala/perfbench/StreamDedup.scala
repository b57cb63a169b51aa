package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Snapshots
import graft.streaming.DocStreams

/** Streaming near-duplicate maintenance: `DocStreams.upsertNearDup` called
  * directly, once per micro-batch, over the constructed-group corpus (see
  * [[Gen.groupText]]). The set-up stages a corpus of 400 documents in 20
  * groups. A cycle starts from empty near-duplicate state, under roots no
  * earlier cycle of the JVM used, and ingests two batches: the staged
  * corpus, then a seeded batch of 20 inserts, 40 text updates (a document
  * moves to another group) and 20 tombstones. After each batch a consumer
  * reads four documents' pairs and the pair count through the
  * `graft-snapshot` source: 2 writes and 10 reads.
  *
  * The expected pair set is relational: every two live documents of the
  * same group, at Jaccard 1.0.
  */
object StreamDedup extends Workload {
  val name = "stream_dedup"

  // q196's corpus: 400 documents in 20 groups, 8 buckets of state
  private val Groups = 20
  private val Initial = 400
  private val Buckets = 8

  private var staged = ""
  private var seen = ""
  private var pairs = ""
  /** Numbers the state roots; never reset, so no two cycles of a JVM share one. */
  private var generation = 0
  private var initial = IndexedSeq.empty[(Long, Int)]
  private val group = mutable.LongMap.empty[Int]
  private val pending = mutable.ArrayBuffer.empty[(String, Any, Any)]

  private def doc(id: Long, g: Int): Row = Row(id, Gen.groupText(g), false)

  def setup(run: Run): Unit = {
    val d = new Gen.Draws(run.seed, 41L)
    initial = (0 until Initial).map(i => (i.toLong, d.int(Groups)))
    staged = run.stage("docs", initial.map { case (id, g) => doc(id, g) }, Gen.docSchema, 2)
    seen = ""; pairs = ""
    pending.clear()
  }

  def cycle(run: Run): Unit = {
    run.check {
      // Fresh roots each cycle, the last cycle's deleted. Deleting a root
      // and re-creating it under the same path in one session can make
      // the next batch read files of the deleted state (FILE_NOT_EXIST);
      // a stream keeps its state roots, so the benchmark does not re-create
      // them either.
      if (seen.nonEmpty) Seq(seen, DocStreams.bandRootOf(seen), pairs).foreach { r =>
        val p = new org.apache.hadoop.fs.Path(r)
        p.getFileSystem(run.spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      generation += 1
      seen = run.out(s"seen$generation"); pairs = run.out(s"pairs$generation")
      group.clear()
      initial.foreach { case (id, g) => group(id) = g }
    }
    val d = new Gen.Draws(run.seed, 42L)
    batch(run, d, "ingest", 0L, run.spark.read.parquet(staged), () => ())
    val (rows, apply) = run.check {
      val touched = d.sample(group.keys.toIndexedSeq.sorted, 60)
      val moved = touched.take(40).map(id => id -> ((group(id) + 1 + d.int(Groups - 1)) % Groups))
      val dead = touched.drop(40)
      val born = (0 until 20).map(j => (Initial.toLong + j) -> d.int(Groups))
      val rows = (moved ++ born).map { case (id, g) => doc(id, g) } ++
        dead.map(id => Row(id, null, true))
      (rows, () => { (moved ++ born).foreach { case (id, g) => group(id) = g }; dead.foreach(group.remove) })
    }
    batch(run, d, "edits", 1L, run.frame(rows, Gen.docSchema), apply)
  }

  private def batch(run: Run, d: Gen.Draws, label: String, id: Long,
      rows: org.apache.spark.sql.DataFrame, apply: () => Unit): Unit = {
    run.write(label) {
      run.call("docstreams.batch") { _ =>
        DocStreams.upsertNearDup(seen, pairs, buckets = Buckets,
          tombstoneCol = Some("__del"))(rows, id)
      }
    }
    run.check(apply())
    run.ifTraced {
      val sp = run.tracer.spans.filter(_.name == "docstreams.batch").last
      sp.attrs("pairs_out") = Snapshots.countRows(run.spark, pairs).fold(-1.0)(_.toDouble)
      sp.attrs("state_files") = Seq(seen, DocStreams.bandRootOf(seen), pairs)
        .map(r => run.liveFiles(r).size).sum.toDouble
    }
    reads(run, d)
  }

  private def expectedPairs: Set[(Long, Long)] =
    group.toSeq.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  private def reads(run: Run, d: Gen.Draws): Unit = {
    val spark = run.spark
    def table = spark.read.format("graft-snapshot").option("root", pairs).load()
    (0 until 4).foreach { _ =>
      val id = run.check(d.pick(group.keys.toIndexedSeq.sorted))
      val mine = run.read("doc_pairs") {
        Scans.timed(run, table.filter(col("doc_a") === id || col("doc_b") === id)
          .select("doc_a", "doc_b", "jac"), Seq(pairs))
      }
      run.check {
        val want = expectedPairs.filter { case (a, b) => a == id || b == id }
          .map { case (a, b) => (a, b, 1.0) }
        pending += (("doc_pairs", mine.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet, want))
      }
    }
    val n = run.read("pair_count") {
      Scans.timed(run, table.agg(count(lit(1))), Seq(pairs)).head.getLong(0)
    }
    run.check { pending += (("pair_count", n, expectedPairs.size.toLong)) }
  }

  def verify(run: Run): Unit = {
    pending.foreach { case (what, got, want) =>
      run.expect(got == want, s"$name: $what read returned $got, expected $want")
    }
    val got = Snapshots.read(run.spark, pairs).select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = expectedPairs.map { case (a, b) => (a, b, 1.0) }
    run.expect(got == want,
      s"$name: final pairs (${got.size}) differ from the corpus's ${want.size} pairs")
  }
}
