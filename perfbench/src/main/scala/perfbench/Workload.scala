package perfbench

/** One benchmark workload: a fixed list of timed ops over generated
  * inputs, plus the hooks `Main`'s run loop calls outside the timer. */
trait Workload {
  def name: String
  /** Once, before the warm pass: load anything the ops read besides the
    * generated files (the Derby source table, say). */
  def prepare(r: Runner): Unit = ()
  /** One timed pass, in order. */
  def ops: Seq[Op]
  /** The untimed first pass over the full inputs: loads classes, fills
    * the codegen cache and JIT-compiles the hot paths. */
  def warm(r: Runner): Unit
  /** Untimed passes after `warm`, until the JIT has caught up. */
  def extraWarmPasses: Int = 0
  /** Timed passes to make even when `seconds` run out first, so each
    * op's median has enough calls behind it. */
  def minTimedPasses: Int = 1
  /** Reset written state so every pass starts from the same place. */
  def beforePass(r: Runner): Unit = ()
  /** Oracle SQL by query name, for the external check to run early. */
  def oracle: Map[String, String] = Map.empty
  /** After the last pass: what the external check reads, as facts. */
  def checkOutputs(r: Runner): Map[String, Any] = Map.empty
  /** Traced run only: each layer timed alone, as per-layer metrics.
    * `traced` holds the traced pass's op records. */
  def layers(r: Runner, plan: PlanProbe, traced: Seq[OpRecord]): Map[String, Double] = Map.empty
  /** Input sizes and properties for the run record. */
  def facts: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, in: String, work: String, out: String): Workload = name match {
    case "housing" => new Housing(in, work)
    case "corpus" => new Corpus(in, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
