package graft

/** Session-wide ledger of artifact-cache constructions (round-12
  * verdict #1). The shared corpus artifacts — near-dup pair table,
  * k-NN edge table, brute top-k reference, diameter BFS sweeps — are
  * built once per corpus snapshot and consumed by many queries; at the
  * 100 TB grain that construction is a per-corpus cost, not a
  * per-query plan cost. Each cached builder records its cache-miss
  * build wall here, so [[Bench]] can (a) report construction seconds
  * as their own JSON field after the untimed prebuild pass, and
  * (b) detect a build that leaked into a timed query (a missed
  * producer) instead of silently grading it as plan cost.
  *
  * CopyOnWriteArrayList: appends are rare (one per artifact per
  * session) and reads want a stable snapshot; builders run inside
  * driver-side query construction, possibly from concurrent test
  * suites sharing the session.
  */
object BuildLedger {
  private val entries =
    new java.util.concurrent.CopyOnWriteArrayList[(String, Double)]

  def record(name: String, secs: Double): Unit = entries.add((name, secs))

  /** Wrap one artifact construction; returns the body's result. */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Monotone mark for since(): entry count at a point in time. */
  def mark(): Int = entries.size

  def since(m: Int): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.toSeq.drop(m)
  }
}
