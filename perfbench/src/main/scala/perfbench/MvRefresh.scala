package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField}

import graft.operators.{Mv, Snapshots}
import Gen.Fact

/** Materialized-view maintenance and routing: a bucket-clustered fact
  * snapshot (orders reduced to key, customer, date, cents, priority and
  * status) carries an aggregate MV (sum, min/max and a distinct-count
  * companion) and a join MV over the customer dimension, both registered
  * for routing. A cycle writes a base `mergeByKey` (upserts, inserts,
  * tombstones) followed by both MV refreshes — the three calls are one
  * write — and then reads, three times, three SQL aggregates over the
  * base that `MvRoute` rewrites onto the views: a rollup by priority
  * including count(DISTINCT), the exact grouping of the aggregate MV, and
  * the segment totals of the join.
  *
  * Every answer is checked against the same aggregate recomputed from an
  * in-memory replay of the base rows, and at the end of the run against
  * the engine's own answer with routing off.
  */
object MvRefresh extends Workload {
  val name = "mv_refresh"

  // the layout of the MV routing fixtures (q214-q219): fact and customer
  // clustered into 8 buckets, views of 8 buckets. A fifth of their sf0.1
  // rows keeps every write's jobs, stages and tasks (WORKLOADS.md).
  private val Rows = 30000
  private val Customers = 3000
  private val Buckets = 8

  private var factRoot = ""
  private var dimRoot = ""
  private var aggMv = ""
  private var joinMv = ""
  private var model = mutable.LongMap.empty[Fact]
  private var seg = Map.empty[Long, String]
  private var nextKey = 0L
  private var d = new Gen.Draws(0L, 0L)
  private val pending = mutable.ArrayBuffer.empty[(String, Set[Seq[Any]], Set[Seq[Any]])]
  private val deltaSchema = Gen.factSchema.add(StructField("__del", BooleanType, nullable = false))

  def setup(run: Run): Unit = {
    val spark = run.spark
    // an earlier set-up's views may name this directory under the other
    // scheme; left registered, they would take the routing
    Seq(aggMv, joinMv).filter(_.nonEmpty).foreach(Mv.unregister(spark, _))
    val facts = Gen.facts(run.seed, Rows, Customers)
    val dims = Gen.customers(run.seed, Customers)
    model = mutable.LongMap.from(facts.map(f => f.k -> f))
    seg = dims.toMap
    nextKey = facts.map(_.k).max + 4
    d = new Gen.Draws(run.seed, 31L)
    pending.clear()
    val f = run.stage("fact", facts.map(_.row), Gen.factSchema, 4)
    val dm = run.stage("dim", dims.map { case (c, s) => Row(c, s) }, Gen.dimSchema, 1)
    factRoot = run.out("fact"); dimRoot = run.out("dim")
    aggMv = run.out("mv_agg"); joinMv = run.out("mv_join")
    Snapshots.publish(spark, factRoot, spark.read.parquet(f),
      clusterBy = Some(s"bucket($Buckets, ck)"))
    Snapshots.publish(spark, dimRoot, spark.read.parquet(dm),
      clusterBy = Some(s"bucket($Buckets, ck2)"))
    Mv.create(spark, aggMv, factRoot, Seq("k"), Seq("prio", "status"), Seq("cents"),
      mvBuckets = Buckets, minMaxCols = Seq("cents"), distinctCols = Seq("ck"))
    Mv.createJoin(spark, joinMv, factRoot, Seq("k"), "ck", dimRoot, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = Buckets)
    Mv.register(spark, aggMv)
    Mv.register(spark, joinMv)
  }

  private def mvFiles(run: Run): Set[String] =
    Seq(aggMv, s"$aggMv/_dv/ck", joinMv).flatMap(r => run.liveFiles(r).map(f => s"$r/$f")).toSet

  def cycle(run: Run): Unit = {
    val spark = run.spark
    locally {
      val (delta, apply) = run.check(mergeDelta(run))
      val before = mutable.Set.empty[String]
      run.ifTraced { before ++= mvFiles(run) }
      val modes = run.write("merge_refresh") {
        run.call("mv.base_merge") { _ =>
          Snapshots.mergeByKey(spark, factRoot, delta, Seq("k"), tombstoneCol = Some("__del"))
        }
        Seq(run.call("mv.refresh") { _ => Mv.refresh(spark, aggMv).mode },
          run.call("mv.refresh") { _ => Mv.refreshJoin(spark, joinMv).mode })
      }
      run.check(apply())
      run.ifTraced {
        val refreshes = run.tracer.spans.filter(_.name == "mv.refresh").takeRight(2)
        refreshes.zip(modes).foreach { case (sp, m) =>
          sp.attrs("incremental") = if (m == "incremental") 1.0 else 0.0
        }
        refreshes.last.attrs("files_added") = (mvFiles(run) -- before).size.toDouble
      }
      // a dashboard polls: every aggregate is read three times per refresh,
      // so most reads, and the median, find the query's plan code compiled
      val wants = run.check(queries(run).map { case (label, _, _, want) => label -> want() }.toMap)
      Seq.fill(3)(queries(run)).flatten.foreach { case (label, q, view, _) =>
        val got = run.read(label) { routed(run, q, view) }
        run.check { pending += ((label, got, wants(label))) }
      }
    }
  }

  private def fact(run: Run): DataFrame =
    run.spark.read.format("graft-snapshot").option("root", factRoot).load()

  private def dim(run: Run): DataFrame =
    run.spark.read.format("graft-snapshot").option("root", dimRoot).load()

  /** (label, query, the view it should route to, expected answer from the replay). */
  private def queries(run: Run): Seq[(String, () => DataFrame, String, () => Set[Seq[Any]])] = Seq(
    ("agg_rollup", () => fact(run).groupBy("prio").agg(count(lit(1)), sum("cents"),
      min("cents"), max("cents"), countDistinct(col("ck"))), aggMv, () =>
      model.values.groupBy(_.prio).map { case (p, fs) =>
        Seq[Any](p, fs.size.toLong, fs.map(_.cents).sum, fs.map(_.cents).min,
          fs.map(_.cents).max, fs.map(_.ck).toSet.size.toLong)
      }.toSet),
    ("agg_exact", () => fact(run).groupBy("prio", "status").agg(count(lit(1)), sum("cents")),
      aggMv, () =>
      model.values.groupBy(f => (f.prio, f.status)).map { case ((p, s), fs) =>
        Seq[Any](p, s, fs.size.toLong, fs.map(_.cents).sum)
      }.toSet),
    ("join_seg", () => fact(run).join(dim(run), col("ck") === col("ck2"))
      .groupBy("seg").agg(count(lit(1)), sum("cents")), joinMv, () =>
      model.values.groupBy(f => seg(f.ck)).map { case (s, fs) =>
        Seq[Any](s, fs.size.toLong, fs.map(_.cents).sum)
      }.toSet))

  /** Optimize (where MvRoute rewrites) and execute one aggregate. */
  private def routed(run: Run, q: () => DataFrame, view: String): Set[Seq[Any]] = {
    val df = q()
    val plan = run.call("mvroute.plan") { _ => df.queryExecution.optimizedPlan.toString }
    val hit = run.check {
      plan.contains(s"graft-snapshot($view)") && !plan.contains(s"graft-snapshot($factRoot)")
    }
    run.expect(hit, s"$name: MvRoute did not rewrite a query onto $view; the plan reads " +
      "graft-snapshot\\([^)]*\\)".r.findAllIn(plan).toSeq.distinct.mkString(", "))
    run.ifTraced {
      run.tracer.spans.filter(_.name == "mvroute.plan").last.attrs("hit") = if (hit) 1.0 else 0.0
    }
    run.call("source.exec") { _ => df.collect().map(_.toSeq).toSet }
  }

  /** 60 updates (customer kept), 20 inserts and 20 tombstones. */
  private def mergeDelta(run: Run): (DataFrame, () => Unit) = {
    val keys = d.sample(model.keys.toIndexedSeq.sorted, 80)
    val (upKeys, dead) = keys.splitAt(60)
    val ups = upKeys.map(k => Gen.fact(d, k, Customers).copy(ck = model(k).ck))
    val ins = (0 until 20).map(j => Gen.fact(d, nextKey + 4L * j, Customers))
    nextKey += 80
    val rows = (ups ++ ins).map(f => Row.fromSeq(f.row.toSeq :+ false)) ++
      dead.map(k => Row.fromSeq(model(k).row.toSeq :+ true))
    (run.frame(rows, deltaSchema), () => {
      (ups ++ ins).foreach(f => model(f.k) = f)
      dead.foreach(model.remove)
    })
  }

  def verify(run: Run): Unit = {
    pending.foreach { case (label, got, want) =>
      run.expect(got == want, s"$name: routed $label answered ${got.size} groups " +
        s"that differ from the replay's ${want.size}")
    }
    // the last routed answers against the same aggregates with routing off
    val lastRouted = pending.takeRight(queries(run).size).map { case (l, got, _) => l -> got }.toMap
    Mv.unregister(run.spark, aggMv)
    Mv.unregister(run.spark, joinMv)
    try queries(run).foreach { case (l, q, _, _) =>
      val plain = q().collect().map(_.toSeq).toSet
      run.expect(lastRouted.get(l).contains(plain), s"$name: $l differs between routed and unrouted plans")
    } finally {
      Mv.register(run.spark, aggMv)
      Mv.register(run.spark, joinMv)
    }
  }
}
