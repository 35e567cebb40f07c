package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed interval-overlap pair enumeration by time-sorted
  * endpoint sweep — the oracle-growth-matching replacement for q204's
  * slab equi-join (reference behavior: activity-interval overlap pairs,
  * internetarchive/wiki-references-db query semantics; see
  * queries/CitationQueries.scala for the serving-side citations).
  *
  * Why not slabs: the r09 diagnosis (PERF_NOTES_r09.md) measured the
  * slab join's candidate volume at its width-optimal setting as 23x the
  * output (131.6M candidates for 5.6M pairs at sf1) with a UNIFORM slab
  * population — no skew to salt, no width to tune. A sweep enumerates
  * each qualifying pair exactly once and nothing else: islands sorted
  * by start time; a new island overlaps EVERY island still active at
  * its start (active ⇒ a.s <= x.s < a.e ⇒ overlap), so emission IS the
  * output. Work is O(n log A + output), A = peak concurrency.
  *
  * Distribution: islands are hash-partitioned by time RANGE (fixed-width
  * ranges over [min s, max e], fan-out ~1 + len/rangeWidth) and sorted
  * by start within each range. An island whose span crosses range
  * boundaries is replicated into every range it intersects, flagged
  * isNew only in its start range — in later ranges it is a CARRY: it
  * enters the active set (it can be the earlier side of a pair) but
  * never matches as the later side, so each pair is counted exactly
  * once, in the later-starting island's range (the carry-in posture
  * of OrderedScan, without a summary pass: the carry set here is
  * derivable per-row from the island's own span). Carries sort
  * before any new island of their range (their start precedes the range
  * boundary), so the active set is complete before the first match.
  *
  * Pair qualification mirrors q204's probe panel: u1 = the smaller
  * user id, and only pairs whose u1 is a probe user (u1 % probeMod ==
  * 0) are emitted. Two ordered active maps (all users / probe users
  * only) make every emission a qualifying pair — non-qualifying
  * overlaps are never touched, so the sweep is output-bound in the
  * FILTERED output, not the raw overlap count.
  *
  * Input `islands`: one row per maximal per-user activity island with
  * LongType columns (userCol, startCol, endCol), end exclusive, islands
  * of one user pairwise disjoint (the gaps-and-islands invariant).
  * Output: (u1, u2, n_overlaps, overlap_ns) per qualifying user pair.
  */
object IntervalSweep {

  /** Per-partition endpoint sweep over rows (u, s, e, rng, isNew)
    * sorted by (rng, s, u), emitting one primitive (packed u1·2^32+u2,
    * overlap_ns) tuple per qualifying island pair. */
  private def sweepPartition(rows: Iterator[org.apache.spark.sql.Row],
      probeMod: Long): Iterator[(Long, Long)] = {
    // Per-range sweep state; a hash-partition may hold several
    // ranges — state resets when rng changes (rows sorted by rng).
    var curRng = Long.MinValue
    var active: java.util.TreeMap[java.lang.Long, Long] = null
    var probeActive: java.util.TreeMap[java.lang.Long, Long] = null
    var byEnd: java.util.PriorityQueue[(Long, Long)] = null

    def reset(): Unit = {
      active = new java.util.TreeMap[java.lang.Long, Long]()
      probeActive = new java.util.TreeMap[java.lang.Long, Long]()
      byEnd = new java.util.PriorityQueue[(Long, Long)](
        11, (a: (Long, Long), b: (Long, Long)) =>
          java.lang.Long.compare(a._1, b._1))
    }

    rows.flatMap { r =>
      // Matches are buffered eagerly per row (a lazily-drained subMap
      // iterator would observe later rows' map mutations) and emitted
      // as primitive (packed pair, overlap) tuples. NOT pre-aggregated
      // in the partition: a pair's islands spread across the corpus's
      // whole time span, so per-partition folding was measured to
      // reduce almost nothing while paying an allocation storm
      // (121 s vs 21 s at sf1).
      val matches = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val rng = r.getLong(3)
      if (rng != curRng) { curRng = rng; reset() }
      val u = r.getLong(0); val s = r.getLong(1); val e = r.getLong(2)
      // Evict islands that ended at or before this start (strict
      // overlap needs a.e > x.s). Stale-entry guard: the user's
      // LATER island may have replaced the map entry; only evict
      // the matching one.
      while (!byEnd.isEmpty && byEnd.peek()._1 <= s) {
        val (de, du) = byEnd.poll()
        if (active.containsKey(du) && active.get(du) == de) {
          active.remove(du)
          probeActive.remove(du)
        }
      }
      if (r.getBoolean(4)) {
        if (u >= 2147483648L) throw new IllegalArgumentException(
          s"IntervalSweep: user id $u >= 2^31 would corrupt packed "
            + "pair keys")
        // New island: every active island overlaps it. Fold only
        // qualifying pairs — (x as u1) against active users > u
        // when x is a probe user, plus active PROBE users < u as u1.
        if (u % probeMod == 0) {
          val it = active.tailMap(u, false).entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            matches += ((u * 4294967296L + en.getKey.longValue(),
              math.min(e, en.getValue) - s))
          }
        }
        val it = probeActive.headMap(u, false).entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          matches += ((en.getKey.longValue() * 4294967296L + u,
            math.min(e, en.getValue) - s))
        }
      } // carry: joins the active set only
      // Insert after matching (an island never pairs with itself).
      active.put(u, e)
      if (u % probeMod == 0) probeActive.put(u, e)
      byEnd.add((e, u))
      matches
    }
  }

  /** Per-reduce-partition primitive fold of (packed pair, overlap)
    * emissions into (packed pair, n_overlaps, overlap_ns) — the
    * LongMap keeps keys unboxed and each cell two longs. */
  private def foldPairPartition(it: Iterator[org.apache.spark.sql.Row])
      : Iterator[(Long, Long, Long)] = {
    val acc = new scala.collection.mutable.LongMap[Array[Long]]()
    while (it.hasNext) {
      val r = it.next()
      val p = r.getLong(0); val ov = r.getLong(1)
      val c = acc.getOrNull(p)
      if (c == null) acc.update(p, Array(1L, ov))
      else { c(0) += 1; c(1) += ov }
    }
    acc.iterator.map { case (p, c) => (p, c(0), c(1)) }
  }

  def overlapPairs(islands: DataFrame, probeMod: Long,
      userCol: String = "user_id", startCol: String = "s",
      endCol: String = "e", nRanges: Int = 0): DataFrame = {
    val spark = islands.sparkSession
    import spark.implicits._

    // Range fan-out follows the cluster, not a constant: 8 ranges per
    // core keeps each sweep task small enough for AQE-era scheduling
    // while the boundary-crossing carry replication stays O(A * nRanges)
    // (A = peak concurrency, independent of corpus length). At
    // local[32] this reproduces the measured-good 256; on a
    // 1000-executor cluster it scales to the machine instead of
    // serializing 256-wide. Callers can still pin it for tests.
    val ranges = if (nRanges > 0) nRanges
      else math.max(8 * spark.sparkContext.defaultParallelism, 64)

    // Persisted: the bounds agg below and the main explode both consume
    // iv, and islands frames are typically window-built (q204's costs a
    // full events pass) — without the cache the whole upstream runs
    // twice. Bounded: one 24-byte row per island. Released by
    // GraftSession.releaseQueryCaches like every per-query cache.
    val iv = islands.select(
      col(userCol).cast("long").as("u"),
      col(startCol).cast("long").as("s"),
      col(endCol).cast("long").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Fixed-width time ranges, bounds broadcast as a 1-row frame (no
    // driver collect): width >= 1 even on a degenerate single-point
    // corpus. Ranges only balance work; correctness never depends on
    // where the boundaries fall.
    val bounds = iv.agg(min("s").as("lo"), max("e").as("hi"))
      .select(col("lo"),
        greatest(lit(1L), expr(s"(hi - lo) div $ranges + 1")).as("wr"))

    val exploded = iv.crossJoin(broadcast(bounds))
      .select(col("u"), col("s"), col("e"),
        explode(sequence(expr("(s - lo) div wr"),
          expr("(e - 1 - lo) div wr"))).as("rng"),
        (expr("(s - lo) div wr") === col("rng")).as("isNew"))
      .repartition(col("rng"))
      .sortWithinPartitions(col("rng"), col("s"), col("u"))

    // Emissions are the dominant volume (33.2M qualifying island pairs
    // at sf1 for 5.6M user pairs) — they travel as PRIMITIVE tuples
    // (packed u1*2^32+u2, overlap_ns), not generic Rows: the (Long,
    // Long) product encoder stays in codegen and the hash aggregate
    // partial-combines map-side before the shuffle. Packing is the
    // PackedPairs recipe with the same 2^31 guard (user ids are dense
    // and tiny; a key-space change must error, not corrupt pairs).
    import spark.implicits.newProductEncoder
    val out = exploded.mapPartitions(rows => sweepPartition(rows, probeMod))

    // Final aggregation as an explicit shuffle + per-partition primitive
    // fold, NOT groupBy: a pair's islands spread across the whole time
    // span, so the map-side partial aggregate would build a hash table
    // of nearly every input row per task and reduce ~nothing — measured
    // at sf1 it more than doubled the aggregate cost. After the
    // exchange each reduce partition folds its ~|pairs|/P keys into a
    // primitive LongMap (unboxed keys, two-long cells).
    out.toDF("p", "ov")
      .repartition(col("p"))
      .mapPartitions(foldPairPartition)
      .toDF("p", "n_overlaps", "overlap_ns")
      .select(expr("p div 4294967296").as("u1"),
        expr("p % 4294967296").as("u2"),
        col("n_overlaps"), col("overlap_ns"))
  }
}
