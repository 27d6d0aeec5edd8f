package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one timed unit did: how many items it processed (cells, docs)
  * and whether its correctness gate held. */
final case class UnitResult(items: Long, ok: Boolean)

/** A benchmark workload: a closed loop of units from one driver. */
trait Workload {
  /** Make every input from the seed. Runs before set-up, untimed. */
  def generate(): Unit
  /** Build the state or control plane the units run against; timed as
    * part of `setup_s` together with the session start. */
  def setup(spark: SparkSession): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** One timed unit. Layer calls go through `t`. */
  def unit(i: Int, t: Tracer): UnitResult
  /** Per-unit gate work that must stay outside the timed region. */
  def check(i: Int): Boolean = true
  /** The once-per-run correctness gate, outside the timed region. */
  def finalCheck(): Boolean = true
  /** A gate that completes on the state the later set-ups built. */
  def checkAfterSetups(): Boolean = true
  /** The workload's quality figure, deterministic for a seed. */
  def quality(): Double
  /** Input sizes, reported with the results. */
  def sizes: Seq[(String, Double)]
  /** Whether the workload has more units to offer. */
  def hasNext(i: Int): Boolean = true
  /** Stored state that survives between units: everything else that
    * is persisted is released after each unit. */
  def stateFrames: Seq[org.apache.spark.sql.DataFrame] = Nil
}
