package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Bounded._

/** The two distributed shapes of the engine's sequential accumulations
  * (the reference's `induction`, dataset_api.clj:1402-1469). Each
  * operator that streams one of them keeps only its own arithmetic and
  * result assembly; the partitioning, ordering and driver traffic live
  * here once. */
private[ops] object Folds {

  /** KEYED STREAMED FOLD: one hash shuffle on `keyCols` (to
    * `spark.sql.shuffle.partitions` partitions), an in-partition sort on
    * `keyCols ++ orderCols`, then one pass that restarts the state at
    * every key run. A task holds O(1) state per run (O(period) for
    * Holt-Winters), so any number of series distribute and a single
    * series only needs its rows in one task's sorted stream, not in
    * memory. Each run's per-row op sequence is the sequential one, so
    * results replay bit-exactly per key (the oracles use a per-key
    * recursive CTE).
    *
    * `xCol` is cast to double and must be non-null: `Row.getDouble`
    * would read a null as 0.0, so a null throws naming `op`.
    * (keyCols ++ orderCols) must be a unique row key for a deterministic
    * fold order. `run` is called at the start of every key run and
    * returns that run's step `x => output values`, in `outputs` order;
    * the outputs are appended to the row as non-nullable columns. */
  def keyed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
            xCol: String, op: String, outputs: Seq[(String, DataType)])
           (run: () => Double => Seq[Any]): DataFrame = {
    // key runs are found with Seq equality, which is REFERENCE equality
    // for array-backed values: a binary/array/map key (also nested in a
    // struct) would restart the state on every row, so refuse it
    def arrayBacked(dt: DataType): Boolean = dt match {
      case _: BinaryType | _: ArrayType | _: MapType => true
      case s: StructType => s.fields.exists(f => arrayBacked(f.dataType))
      case _ => false
    }
    keyCols.foreach { k =>
      val dt = df.schema(k).dataType
      require(!arrayBacked(dt),
        s"$op: key column '$k' has array-backed type $dt " +
          "(value equality unsupported, including nested in structs) — " +
          "cast it to a scalar key first")
    }
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn(xCol, col(xCol).cast(DoubleType))
      .repartition(parts, keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ orderCols).map(col): _*)
    val schema = outputs.foldLeft(sorted.schema) { case (s, (name, dt)) =>
      s.add(name, dt, nullable = false) }
    val keyIdx = keyCols.map(sorted.schema.fieldIndex)
    val xIdx = sorted.schema.fieldIndex(xCol)
    val rows = sorted.rdd.mapPartitions { it =>
      var curKey: Seq[Any] = null
      var step: Double => Seq[Any] = null
      it.map { r =>
        if (r.isNullAt(xIdx))
          throw new IllegalArgumentException(
            s"$op: null $xCol — filter or impute first")
        val k = keyIdx.map(r.get)
        if (k != curKey) { curKey = k; step = run() }
        Row.fromSeq(r.toSeq ++ step(r.getDouble(xIdx)))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Where one partition's [[twoClass]] scan starts: the class totals
    * over the whole frame, the cumulative class counts before the
    * partition's first value, and the first value of the next non-empty
    * partition (None after the last one). */
  final case class PartStart(n1: Long, n2: Long, c1: Long, c2: Long,
                             nextFirst: Option[Double])

  /** TWO-CLASS CUMULATE over the distinct values of `value` (cast to
    * double): the rows where `keep` holds and the value is neither null
    * nor NaN reduce, in one keyed aggregation, to the per-distinct-value
    * frame (x, c1, c2), where c1/c2 count the rows whose `tag` satisfies
    * `class1`/`class2`. That frame is range-sorted on x (`descending` for
    * the score sweeps); the O(P) per-partition totals and first values
    * reach the driver in one bounded collect, and one scan per partition
    * starts from the broadcast offsets. No single-task sort and no global
    * window: what reaches the driver is O(P) rows in both jobs. `keep`
    * should admit only rows of one class or the other — a row in neither
    * still adds its value to the frame with zero counts.
    *
    * Returns (n1, n2, per-partition scan results in partition order). The
    * scan runs only when `scanWhen(n1, n2)` holds; otherwise the results
    * are empty. Both persisted frames are released before returning. */
  def twoClass[R: ClassTag](df: DataFrame, value: Column, keep: Column,
                            tag: Column, class1: Column => Column,
                            class2: Column => Column,
                            descending: Boolean = false)
                           (scanWhen: (Long, Long) => Boolean)
                           (scan: (PartStart, Iterator[(Double, Long, Long)]) => R)
      : (Long, Long, Array[R]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val v = value.cast(DoubleType)
    val g = col("__g")
    val grouped = df
      .filter(keep && v.isNotNull && !isnan(v))
      .select(tag.as("__g"), v.as("__x"))
      .groupBy(col("__x"))
      .agg(sum(when(class1(g), 1L).otherwise(0L)).as("__c1"),
        sum(when(class2(g), 1L).otherwise(0L)).as("__c2"))
      // persisted: the range partitioner SAMPLES its child
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val x = if (descending) col("__x").desc else col("__x")
    val sorted = grouped
      .repartitionByRange(parts, x)
      .sortWithinPartitions(x)
      .as[(Double, Long, Long)]
      // persisted: the totals pass and the scan both read it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totals = sorted.rdd.mapPartitions { it =>
        var s1 = 0L; var s2 = 0L; var first: Option[Double] = None
        it.foreach { case (x, c1, c2) =>
          if (first.isEmpty) first = Some(x); s1 += c1; s2 += c2 }
        Iterator((s1, s2, first))
      }.collectBounded(1 << 20, "O(P) partition totals")
      val off1 = totals.map(_._1).scanLeft(0L)(_ + _)
      val off2 = totals.map(_._2).scanLeft(0L)(_ + _)
      val (n1, n2) = (off1.last, off2.last)
      val nextFirst = totals.map(_._3).scanRight(Option.empty[Double])(
        (first, next) => first.orElse(next)).tail
      val results =
        if (!scanWhen(n1, n2)) Array.empty[R]
        else {
          val bc = spark.sparkContext.broadcast(Array.tabulate(totals.length) {
            p => PartStart(n1, n2, off1(p), off2(p), nextFirst(p)) })
          sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
            Iterator.single(scan(bc.value(pid), it))
          }.collectBounded(1 << 20, "O(P) per-partition results")
        }
      (n1, n2, results)
    } finally { sorted.unpersist(); grouped.unpersist(); () }
  }
}
