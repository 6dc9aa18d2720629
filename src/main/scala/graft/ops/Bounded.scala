package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's ONLY sanctioned driver-side materialization.
  *
  * Every `.collect()` in `src/main` routes through [[Bounded.BoundedOps
  * .collectBounded]] (grep-guarded by `PlanGuardSpec`; the one exception
  * is `OutOfCoreCheck`'s NEGATIVE control, whose entire job is to OOM).
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
