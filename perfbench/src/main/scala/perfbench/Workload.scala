package perfbench

/** One seeded workload. `setup` builds the starting state from the seed
  * (fixture staging, initial publish, MV create); `cycle` issues one fixed
  * unit of seeded operations through [[Run.write]] and [[Run.read]], and a
  * run repeats it for its measuring time; `verify` recomputes the expected
  * final state independently of the engine, recording any mismatch with
  * [[Run.expect]]. Cycles keep the state's size steady, so every cycle of a
  * run does comparable work.
  */
trait Workload {
  def name: String
  def setup(run: Run): Unit
  def cycle(run: Run): Unit
  def verify(run: Run): Unit
}

/** Several workloads run as one: their set-ups, cycles and checks in
  * sequence, each part on its own roots. A run measures the parts' cycles
  * back to back, so one run holds as much measured work as the parts
  * would in separate runs.
  */
final class Composite(val name: String, val parts: Workload*) extends Workload {
  def setup(run: Run): Unit = parts.foreach(_.setup(run))
  def cycle(run: Run): Unit = parts.foreach(_.cycle(run))
  def verify(run: Run): Unit = parts.foreach(_.verify(run))
}

object Workload {
  /** The benchmark's workloads. Each pairs two parts whose operations'
    * latencies are of the same order, so one median covers both.
    */
  val all: Seq[Workload] = Seq(
    new Composite("etl_dml", WarehouseEtl, TableDml),
    new Composite("mv_stream", MvRefresh, StreamDedup))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
