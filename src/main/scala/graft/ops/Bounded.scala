package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.LongType

/** The engine's ONLY sanctioned driver-side materialization.
  *
  * Every `.collect()` in `src/main` routes through [[Bounded.BoundedOps
  * .collectBounded]], or through [[Bounded.collectLongs]] for the
  * data-sized LONG lists the graph replays fold (grep-guarded by
  * `PlanGuardSpec`).
  * Each call site has always carried a documented O(1)/O(k)/O(P)/
  * O(groups) bound argument in its scaladoc — this helper makes the
  * bound REAL: `limit(maxRows + 1)` caps what can ever reach the driver
  * inside the plan itself, and the require turns a violated bound into a
  * loud, attributable error naming the call site instead of a driver OOM
  * three stages later. When the result is within the bound the limit
  * drops nothing, so semantics are unchanged; at 100 TB an unbounded
  * collect is the classic way a "works at sf0.1" pipeline dies, and a
  * bound stated in code is a bound the cluster enforces.
  */
object Bounded {
  /** Default for [[driverRowLimit]]: 4M rows. */
  private val DefaultDriverRowLimit = 4000000L
  val DriverRowLimitKey = "spark.graft.driverRowLimit"

  /** The row limit behind [[fitsDriver]]. `spark.graft.driverRowLimit`
    * overrides the default (tests set it to force a leg); `0` means
    * nothing fits. This is the only `spark.graft.*` key the engine reads. */
  def driverRowLimit(spark: SparkSession): Long =
    spark.conf.get(DriverRowLimitKey, DefaultDriverRowLimit.toString).toLong

  /** The engine's one "small enough for the driver?" decision. Every
    * operator with a driver-side replay (graph rounds, periodogram,
    * dedup union-find) or a broadcast node frame asks it with the input
    * size it has already observed. An input within the limit may be
    * collected or broadcast; above it the operator runs its distributed
    * plan. */
  def fitsDriver(spark: SparkSession, rows: Long): Boolean = {
    val limit = driverRowLimit(spark)
    limit > 0L && rows <= limit
  }

  /** `times` × [[driverRowLimit]] as a [[BoundedOps.collectBounded]]
    * bound: the collect behind a passed [[fitsDriver]] check is held to
    * the same limit that admitted it. */
  def driverRowBound(spark: SparkSession, times: Long = 1L): Int =
    math.min(times * driverRowLimit(spark), Int.MaxValue - 1L).toInt

  /** Bounded driver collect of an all-LONG frame as one packed
    * `Array[Long]` per column — the graph replays' edge, seed and label
    * lists. Each task packs its partition straight off the `InternalRow`s
    * (no decoded `Row`, no tuple) and stops after `maxRows + 1` rows; the
    * driver concatenates the per-partition arrays in partition order (the
    * row order `limit(maxRows + 1).collect()` gives) and throws naming
    * `why` when the total exceeds `maxRows`. Returns None when any slot
    * is NULL (`getLong` would read it as 0): a task that meets one ships
    * nothing, so a caller that falls through to its distributed plan has
    * not paid for the collect. */
  def collectLongs(df: DataFrame, maxRows: Int, why: String)
      : Option[Array[Array[Long]]] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"bad bound $maxRows")
    require(df.schema.nonEmpty && df.schema.forall(_.dataType == LongType),
      s"collectLongs($why): needs LONG columns, got ${df.schema.simpleString}")
    val nCols = df.schema.length
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("collectLongs")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (it: Iterator[InternalRow]) => packLongs(it, nCols, maxRows + 1))
    }
    if (parts.exists(_.isEmpty)) return None
    val cols = parts.map(_.get)
    val total = cols.map(_(0).length.toLong).sum
    if (total > maxRows)
      throw new IllegalStateException(
        s"collectLongs($why): result exceeds the documented driver " +
          s"bound of $maxRows rows — the plan's O-argument no longer " +
          "holds; fix the plan (or the bound), don't widen the driver")
    if (cols.length == 1) return Some(cols(0))
    Some(Array.tabulate(nCols) { c =>
      val out = new Array[Long](total.toInt)
      var at = 0
      cols.foreach { p =>
        System.arraycopy(p(c), 0, out, at, p(c).length)
        at += p(c).length
        p(c) = null // release each partition's column once copied
      }
      out
    })
  }

  /** One task's side of [[collectLongs]] (and of labelPropagation's
    * adjacency build): at most `cap` rows, None at the first NULL slot. */
  private[ops] def packLongs(it: Iterator[InternalRow], nCols: Int, cap: Int)
      : Option[Array[Array[Long]]] = {
    val bufs = Array.fill(nCols)(new scala.collection.mutable.ArrayBuilder.ofLong)
    var n = 0
    while (n < cap && it.hasNext) {
      val r = it.next()
      var c = 0
      while (c < nCols) {
        if (r.isNullAt(c)) return None
        bufs(c).addOne(r.getLong(c))
        c += 1
      }
      n += 1
    }
    Some(bufs.map(_.result()))
  }

  implicit class BoundedOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Driver-side collect with an enforced row bound. `why` names the
      * call site's O-argument (shown in the violation error). */
    def collectBounded(maxRows: Int, why: String): Array[T] = {
      require(maxRows >= 0 && maxRows < Int.MaxValue, s"bad bound $maxRows")
      val rows = ds.limit(maxRows + 1).collect()
      if (rows.length > maxRows)
        throw new IllegalStateException(
          s"collectBounded($why): result exceeds the documented driver " +
            s"bound of $maxRows rows — the plan's O-argument no longer " +
            "holds; fix the plan (or the bound), don't widen the driver")
      rows
    }
  }

  /** RDD flavor for the partition-indexed readouts (offset tables,
    * per-partition totals): RDDs have no plan-level `limit`, and these
    * frames are one-or-few rows PER PARTITION by construction — the
    * check is a loud assertion that the structural O(P) argument still
    * holds, not a cap. */
  implicit class BoundedRddOps[T](
      private val rdd: org.apache.spark.rdd.RDD[T]) extends AnyVal {
    def collectBounded(maxRows: Int, why: String): Array[T] = {
      val rows = rdd.collect()
      if (rows.length > maxRows)
        throw new IllegalStateException(
          s"collectBounded($why): ${rows.length} rows exceed the " +
            s"documented driver bound of $maxRows — the structural " +
            "O-argument no longer holds")
      rows
    }
  }
}
