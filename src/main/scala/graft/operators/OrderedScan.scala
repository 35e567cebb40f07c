package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one ordered-scan kernel: a running fold over a GLOBAL sort order
  * without a single-partition window. The naive form — one
  * `Window.orderBy` over the whole frame — sends every row through one
  * task; the round-7 sf1 scale-up measured it at 24.4× the time for 10×
  * the data (q342). Prefix sums, strict prefix maxima, row numbers and
  * "nearest non-null row before/after me" all run here instead.
  *
  * Contract:
  *  - `order` (after the fold's group columns, which lead) must be a
  *    TOTAL order: unique per row. On ties the fold's order among the
  *    tied rows is whatever the range partitioner and sort leave, so
  *    the result is not deterministic.
  *  - Null semantics are SQL's: a null value adds nothing. [[Sum]] and
  *    [[StrictMax]] are null until the first non-null value of the
  *    prefix (the group's prefix, for a grouped sum), and [[LastNonNull]]
  *    is null until the first non-null value. [[Sum]] and [[StrictMax]]
  *    take a LONG value.
  *  - A reverse scan is the same fold over the reversed order: "first
  *    non-null at or after me" is [[LastNonNull]] over `order` with
  *    every column `.desc` (ascending nulls-first reverses to descending
  *    nulls-last).
  *
  * Mechanism: range-partition and sort on the order, then PIN the sorted
  * partitions with an eager `localCheckpoint`. Pass 1 folds each pinned
  * partition into one summary row (its first and last group key and the
  * fold of its last group), collected to the driver: O(P) rows for P
  * partitions, grouped sums included, because only a partition's first
  * and last group can span a boundary. The driver turns the summaries
  * into each partition's carry-in. Pass 2 folds each pinned partition
  * again, starting from its carry-in. Both passes are narrow maps over
  * ONE materialization, so they read one partition assignment by
  * construction: a live plan would re-run the range exchange per action
  * with freshly sampled boundaries (RangePartitioner seeds by rdd.id),
  * and a row near a boundary could then get another partition's carry.
  * The sort is the checkpoint's ROOT: under an opaque map the
  * optimizer's EliminateSorts drops a sort no parent requires (observed
  * as a nondeterministic q304 walk). Every task holds n/P rows and O(1)
  * fold state at any corpus size.
  *
  * The checkpoint's blocks belong to the query: Spark's ContextCleaner
  * drops them once the result is unreachable, which
  * `GraftSession.releaseQueryCaches` prompts with its collection.
  */
object OrderedScan {

  /** A running fold; `value` is evaluated once per input row. */
  sealed trait Fold { def value: Column }

  /** Inclusive running sum of a LONG `value`, restarting at each key of
    * `groups`. The scan orders by `groups` before the order columns, so
    * a group's rows are contiguous, and a large group still spreads
    * over many partitions. */
  final case class Sum(value: Column, groups: Seq[String] = Nil)
    extends Fold

  /** Strict running max of a LONG `value`: the max over every EARLIER
    * row, null on the first row. */
  final case class StrictMax(value: Column) extends Fold

  /** Inclusive last non-null `value`: the latest non-null value at or
    * before the row. Any type. */
  final case class LastNonNull(value: Column) extends Fold

  /** The scan's output: the input's columns in their order plus `out`
    * (nullable), and `last`, the fold's value after the final row (the
    * grand total of an ungrouped sum), read off the collected summaries
    * at no extra job; null when the frame is empty. */
  final case class Scanned(df: DataFrame, last: Any)

  /** Per non-empty partition: its first and last group key and the
    * fold of its last group. */
  private final case class Summary(
      pid: Int, first: Seq[Any], last: Seq[Any], fold: Any)

  /** Adds `out` = `fold` over `order` to `df`, as described above. */
  def scan(df: DataFrame, order: Seq[Column], fold: Fold,
      out: String): Scanned = {
    require(!df.columns.contains(out), s"column $out already exists")
    // The fold value rides as one internal column, named so it cannot
    // replace a caller's column.
    val vN = Iterator.iterate("_v")(_ + "_").dropWhile(df.columns.contains)
      .next()
    val (groups, strict, op): (Seq[String], Boolean, (Any, Any) => Any) =
      fold match {
        case Sum(_, g) => (g, false,
          (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long])
        case StrictMax(_) => (Nil, true,
          (a, b) => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long]))
        case LastNonNull(_) => (Nil, false, (_, b) => b)
      }
    val keys = groups.map(col) ++ order
    val ranged = df.withColumn(vN, fold.value)
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .localCheckpoint(true)
    val vIdx = ranged.schema.fieldIndex(vN)
    val vType = ranged.schema(vIdx).dataType
    require(fold.isInstanceOf[LastNonNull] || vType == LongType,
      s"$fold needs a LONG value, got $vType")
    val gIdx = groups.map(ranged.schema.fieldIndex)
    val key: Row => Seq[Any] = r => gIdx.map(r.get)
    // null is the fold's identity: a null value adds nothing
    val add: (Any, Any) => Any =
      (a, b) => if (a == null) b else if (b == null) a else op(a, b)

    // pass 1: one summary row per non-empty partition
    val summaries = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val r0 = it.next()
        val first = key(r0)
        var k = first
        var acc = r0.get(vIdx)
        it.foreach { r =>
          val kr = key(r)
          if (kr != k) { k = kr; acc = null }
          acc = add(acc, r.get(vIdx))
        }
        Iterator(Summary(pid, first, k, acc))
      }
    }.collect().sortBy(_.pid)
    // carry-in of each partition: the fold of its first group over all
    // earlier partitions (several, when a group spans them)
    var lastKey: Seq[Any] = null
    var carry: Any = null
    val carryIn = summaries.map { s =>
      val in = if (s.first == lastKey) carry else null
      carry = if (s.first == s.last) add(in, s.fold) else s.fold
      lastKey = s.last
      s.pid -> in
    }.toMap

    // pass 2: re-fold each partition from its carry-in; the row's value
    // slot (the last field) becomes `out`
    val rows = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = carryIn.getOrElse(pid, null)
      var k: Seq[Any] = null
      it.map { r =>
        val kr = key(r)
        if (k != null && kr != k) acc = null
        k = kr
        val before = acc
        acc = add(acc, r.get(vIdx))
        Row.fromSeq(r.toSeq.updated(vIdx, if (strict) before else acc))
      }
    }
    val schema = StructType(df.schema.fields :+
      StructField(out, vType, nullable = true))
    Scanned(df.sparkSession.createDataFrame(rows, schema), carry)
  }
}
