package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._

/** graft's one bounded-broadcast decision: a build side is materialized
  * and measured by the same aggregate job, and broadcast only while the
  * measure stays within a limit; past it the caller's shuffle fallback
  * computes the identical rows. The limits are sized for the default
  * 8 GiB single-JVM driver, which hosts every broadcast's hashed
  * relation next to a composite pipeline's checkpoint blocks.
  */
private[graft] object Bounded {

  /** Rows of a string, pair or position build side, or of a driver-side
    * pull (~64 MB of long pairs).
    */
  val Rows: Long = 4L * 1000 * 1000

  /** Rows of a fixed-width 8-byte id or hash side, a ~400 MB hashed
    * relation (measured: a ~20M-hash build inside prepareWeb's decontam
    * arm blew the 8 GiB driver's broadcast build, a ~12M one did not).
    */
  val IdRows: Long = 16L * 1000 * 1000

  /** Estimated bytes of a string-keyed hashed relation, which a row limit
    * alone would let grow to GBs on long strings.
    */
  val Bytes: Long = 512L * 1024 * 1024

  /** A materialized build side and whether it fits its limit. */
  final case class Measured(frame: DataFrame, fits: Boolean) {
    /** `frame` as a join side: broadcast while it fits. */
    def build: DataFrame = if (fits) broadcast(frame) else frame
  }

  /** Lazily local-checkpoints `df` (a frame whose optimized plan already
    * is a leaf is used as it is) and runs one aggregate of `measures`
    * over it. That job fills the checkpoint, so later actions on the
    * returned frame read it instead of re-deriving `df`.
    */
  def measure(df: DataFrame, measures: Column*): (DataFrame, Row) = {
    val frame =
      if (df.queryExecution.optimizedPlan.isInstanceOf[LeafNode]) df
      else df.localCheckpoint(false)
    (frame, frame.agg(measures.head, measures.tail: _*).head())
  }

  /** `df` fits while the aggregate `size` (default: its row count) is at
    * most `limit`. A null size, a sum over no rows, fits.
    */
  def apply(df: DataFrame, limit: Long, size: Column = count(lit(1))): Measured = {
    val (frame, m) = measure(df, size)
    Measured(frame, m.isNullAt(0) || m.getLong(0) <= limit)
  }

  /** Rows and estimated hashed-relation bytes both within their limits:
    * ~48 B of hash-table and row overhead a row plus 2 B (UTF-16) a
    * character of the string column `chars`.
    */
  def withBytes(df: DataFrame, chars: Column, rowLimit: Long = IdRows,
                byteLimit: Long = Bytes): Measured = {
    val (frame, m) = measure(df, count(lit(1)), coalesce(sum(length(chars)), lit(0L)))
    Measured(frame, m.getLong(0) <= rowLimit && m.getLong(0) * 48L + m.getLong(1) * 2L <= byteLimit)
  }
}
