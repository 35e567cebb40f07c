package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Physical-design and planner advisors: shard rebalancing, compaction
  * and concurrency-conflict plans, range-partition plans, join-order and
  * cardinality audits, encoding and run-length advice, skew salting,
  * Z-order layout, table checksums and Merkle drill-down.
  */
object LayoutOps extends QueryModule {
  /** Timestamp (ntz or tz, micros precision) → µs-since-epoch long —
    * timezone-free (same construction as [[graft.Tables.tsToNanos]]). */
  private def tsToMicros(ts: org.apache.spark.sql.Column) =
    timestamp_diff("MICROSECOND",
      lit("1970-01-01 00:00:00").cast(TimestampNTZType),
      ts.cast(TimestampNTZType))

  /** Target partitions and sample size (k = 32·P, the classic
    * RangePartitioner sketch density). */
  private val P = 8

  private val K = 256

  /** Columns the encoding advisor profiles: the low-cardinality
    * dictionary wins and the high-cardinality dictionary loss
    * (c_name) in one report. */
  private val EncCols: Seq[(String, String)] = Seq(
    ("orders", "o_orderpriority"), ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"), ("customer", "c_name"),
    ("part", "p_type"), ("part", "p_brand"),
    ("documents", "lang"), ("documents", "source"),
    ("events", "event_type"))

  /** Portable Z-value of two 8-bit coordinates via pure div/% arithmetic
    * (identical text runs in Spark SQL and DuckDB — no engine bit ops,
    * no shift-overflow edge cases). Bit i of `a` lands at z-bit 2i, bit
    * i of `b` at 2i+1. */
  private def zExpr(a: String, b: String): String =
    (0 until 8).map { i =>
      s"((($a) div ${1 << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((($b) div ${1 << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(
    // ---- q188: order-insensitive bucketed table checksum ---------------
    // q188 order-insensitive table checksum: commutative per-bucket
    // hash totals that let two 100 TB table copies be compared (and the
    // differing key-range localized) without sorting either side.
    // Row hash = 52 md5 bits of an engine-portable canonical string of
    // the row's integer/string/timestamp columns (floats excluded here:
    // their decimal rendering is engine-specific — a production run
    // hashes their IEEE-754 bits instead). Bucket = hv mod 64; per
    // bucket the checksum is a SUM of bounded residues — commutative
    // and associative, so Spark's map-side partial aggregation computes
    // it with one tiny shuffle of 64 partials per map task, in ANY row
    // order, with NO sort: two copies of a 100 TB table compare by 64
    // (bucket, n_rows, checksum) rows, and a mismatched bucket narrows
    // the diff to 1/64 of the keyspace (recurse for Merkle-style
    // drill-down). Residues are < 1e9+7 so ~9.2e9 rows/bucket fit in
    // an i64 sum before the outer mod — re-mod per partial at larger
    // scales.
    "q188_table_checksum" -> ((s, d) => {
      val canon = concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        coalesce(tsToMicros(col("l_shipdate")), lit(-1L)))
      val hv = conv(substring(md5(canon), 1, 13), 16, 10).cast("long")
      table(s, d, "lineitem")
        .select((hv % 64).as("bucket"), (hv % 1000000007L).as("res"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          (sum("res") % 1000000007L).as("checksum"))
    }),

    // ---- q207: shard-rebalance audit (mod vs rendezvous) ---------------
    // q207 shard-rebalance audit: how much data MOVES when the shard
    // count grows 16 → 20, mod-hash vs rendezvous (highest-random-
    // weight) assignment — the consistent-hashing property quantified
    // (mod reshuffles ~1 − 1/lcm ≈ 95% of keys; rendezvous moves only
    // ~new/total = 20%, the minimum possible).
    // Both schemes hash only the doc key — no data movement to AUDIT the
    // movement. HRW ranks md5(doc#shard) per (doc, shard) pair: the
    // winner among the first 16 shards vs among all 20 tells whether the
    // doc moves; a doc moves iff one of the 4 NEW shards wins, so the
    // expected moved share is 4/20 regardless of corpus size — the
    // property that makes rendezvous the right assignment for 100 TB
    // shard growth, demonstrated against mod-hash's near-total reshuffle.
    // The explode is |docs| × 20 tiny rows with map-side max_by combine.
    // (The two SinglePartition exchanges in the executed plan are the
    // 1-row global aggregates merging the map-side partials — bounded by
    // design.)
    "q207_shard_rebalance" -> ((s, d) => {
      val docs = table(s, d, "documents").select("doc_id")
      val h = expr(h13("doc_id"))
      val modMoved = docs.select(col("doc_id"), h.as("h"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("h") % 16 =!= col("h") % 20, 1L).otherwise(0L))
            .as("n_moved"))
        .select(lit("mod").as("scheme"), col("n_total"), col("n_moved"),
          expr("n_moved * 1000000 div n_total").as("moved_ppm"))
      val hrw = docs
        .select(col("doc_id"), explode(sequence(lit(0), lit(19))).as("s"))
        .withColumn("hv", md5(concat(col("doc_id").cast("string"),
          lit("#"), col("s").cast("string"))))
      val a16 = hrw.filter(col("s") < 16).groupBy("doc_id")
        .agg(max_by(col("s"), col("hv")).as("s16"))
      val a20 = hrw.groupBy("doc_id")
        .agg(max_by(col("s"), col("hv")).as("s20"))
      val hrwMoved = a16.join(a20, "doc_id")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("s16") =!= col("s20"), 1L).otherwise(0L))
            .as("n_moved"))
        .select(lit("rendezvous").as("scheme"), col("n_total"),
          col("n_moved"), expr("n_moved * 1000000 div n_total").as("moved_ppm"))
      modMoved.unionAll(hrwMoved)
    }),

    // ---- q213: small-file compaction planner ---------------------------
    // q213 small-file compaction planner: files binned to a target
    // size by the distributed exclusive prefix sum — the OPTIMIZE /
    // rewrite-data-files planning pass of a lakehouse table.
    // The OPTIMIZE planning pass: pack the table's files (stand-in: one
    // doc = one file of n_chars bytes) in key order into ~4000-byte
    // output bins. A file's bin is where its FIRST byte lands in the
    // exclusive running total — next-fit packing, deterministic, and
    // expressible as one distributed prefix sum (the OrderedScan
    // kernel's sum — no single-partition window over the file listing,
    // which at 100 TB is itself millions of rows). Output is the
    // per-bin manifest a rewrite job consumes.
    "q213_compaction_plan" -> ((s, d) => {
      val files = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars").as("bytes"))
      OrderedScan.scan(files, Seq(col("doc_id")),
          OrderedScan.Sum(col("bytes")), "cum").df
        .withColumn("bin", expr("(cum - bytes) div 4000"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes_total"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    // ---- q214: optimistic-concurrency conflict audit --------------------
    // q214 optimistic-concurrency conflict audit: which commits saw a
    // concurrent commit land on their partition inside their snapshot
    // window (first-committer-wins serializability check) — interval
    // predicate turned into a day-slab EQUI-join, never all-pairs.
    // Snapshot-isolation check over a commit log (stand-in: every 10th
    // order is a commit; partition = orderkey % 8, snapshot window =
    // [orderdate, orderdate + (totalprice mod 7 days) seconds]): a
    // commit CONFLICTS if another writer's commit landed on the same
    // partition strictly inside its window — the first-committer-wins
    // rule a lakehouse table enforces at commit time. The interval
    // predicate becomes an EQUI-join: each window explodes to its
    // covering day slabs (≤ 8, windows are < 7 days), the probe side
    // maps to the single slab of its commit instant, so each qualifying
    // pair meets on exactly one (partition, slab) key — never an
    // all-pairs comparison per partition. Output: per-partition
    // commit/conflict totals.
    "q214_occ_conflicts" -> ((s, d) => {
      val commits = table(s, d, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("ck"),
          (col("o_orderkey") % 8).as("part"),
          expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 1000")
            .as("start_sec"),
          (expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 1000") +
            expr("CAST(floor(o_totalprice) AS BIGINT)") % 604800)
            .as("commit_sec"))
      val windows = commits.select(col("ck"), col("part"),
          col("start_sec"), col("commit_sec"),
          explode(sequence(expr("start_sec div 86400"),
            expr("commit_sec div 86400"))).as("slab"))
      val others = commits.select(col("ck").as("o_ck"),
          col("part"), col("commit_sec").as("o_commit"),
          expr("commit_sec div 86400").as("slab"))
      windows.join(others, Seq("part", "slab"))
        .filter(col("o_ck") =!= col("ck") &&
          col("o_commit") > col("start_sec") &&
          col("o_commit") <= col("commit_sec"))
        .groupBy("ck", "part").agg(countDistinct("o_ck").as("n_concurrent"))
        .groupBy("part")
        .agg(count(lit(1)).as("n_conflicted"),
          sum("n_concurrent").as("total_conflicts"),
          max("n_concurrent").as("max_conflicts"))
    }),

    // ---- q248: range-partition planning audit --------------------------
    // q248 range-partition plan from a deterministic sample: split
    // points from a bottom-k-by-hash sample of the key column, then
    // an exact per-range occupancy/skew audit — the planning pass a
    // range-partitioned 100 TB write runs before shuffling anything.
    // The sample is the K rows with the smallest md5(event_id) — a
    // deterministic simple random sample (TakeOrdered: map-side top-K
    // per partition, K-row merge — never a corpus sort). Split points
    // are the sample's P-quantile values; every corpus row then buckets
    // map-side against the broadcast 7-value split array, and ONE
    // bucket-keyed count yields the occupancy audit with skew in ppm
    // of the ideal share. This is exactly how Spark's own
    // RangePartitioner plans a range shuffle — expressed as an
    // auditable query whose skew column tells you BEFORE the 100 TB
    // write whether the key needs salting.
    "q248_range_plan" -> ((s, d) => {
      val ev = table(s, d, "events").select(col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        expr(h13("event_id")).as("h"))
      // event_id tie-break: a 52-bit hash prefix can collide at the
      // K boundary, and an untied LIMIT would let each engine pick a
      // different sample.
      val sample = ev.orderBy("h", "event_id").limit(K).select("cents")
      val splits = sample
        .withColumn("rn", row_number().over(Window.orderBy("cents")))
        .filter(col("rn") % (K / P) === 0 && col("rn") < K)
        .agg(sort_array(collect_list("cents")).as("splits"))
      val tot = ev.agg(count(lit(1)).as("n_total"))
      ev.crossJoin(broadcast(splits))
        .select(expr("size(filter(splits, x -> x <= cents))")
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_rows"),
          expr(s"n_rows * ${P}L * 1000000L div n_total").as("share_ppm"))
    }),

    // ---- q251: join-cardinality estimation audit -----------------------
    // q251 join-cardinality estimation audit: the System-R uniformity
    // estimate vs the histogram-exact actual, computed WITHOUT ever
    // materializing the join — the statistics pass a cost-based
    // optimizer (or a 100 TB join pre-flight) runs.
    // For three join shapes (FK, skewed self-join, many-to-many), the
    // System-R estimate |L|·|R| / max(ndv_L, ndv_R) is audited against
    // the exact output cardinality Σ_k c_L(k)·c_R(k) — computed from the
    // two per-key COUNT histograms joined on the key, so the join whose
    // size is being estimated is NEVER materialized (the events
    // self-join would be ~10^7 rows at sf0.1 and unbounded at corpus
    // scale; its histogram is |users| rows). Each audit is two
    // map-side-combined histogram shuffles + one key-equi histogram
    // join; the 1-row side/actual aggregates are documented scalar
    // broadcasts. The FK rows come out at ratio 1.000000 by
    // construction; the self-join row quantifies how far key skew drags
    // the uniformity estimate below reality — exactly the signal a
    // cost-based reorder (or a salting pre-flight) needs. 64-bit note:
    // n_left·n_right overflows long only past ~3·10^9 rows per side;
    // at that scale the inputs to this audit are themselves sketches
    // (q165's KMV set algebra), not exact counts.
    "q251_join_size_audit" -> ((s, d) => {
      def audit(name: String, l: DataFrame, lk: String,
          r: DataFrame, rk: String): DataFrame = {
        val hl = l.groupBy(col(lk).as("k")).agg(count(lit(1)).as("cl"))
        val hr = r.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cr"))
        val sl = hl.agg(sum("cl").as("n_left"),
          count(lit(1)).as("ndv_left"))
        val sr = hr.agg(sum("cr").as("n_right"),
          count(lit(1)).as("ndv_right"))
        val act = hl.join(hr, "k")
          .agg(coalesce(sum(expr("cl * cr")), lit(0L)).as("actual_rows"))
        sl.crossJoin(sr).crossJoin(act)
          .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
            greatest(col("ndv_left"), col("ndv_right")).as("ndv_max"),
            expr("n_left * n_right div greatest(ndv_left, ndv_right)")
              .as("est_rows"),
            col("actual_rows"),
            expr("""(n_left * n_right
                     div greatest(ndv_left, ndv_right)) * 1000000
                    div actual_rows""").as("est_over_actual_ppm"))
      }
      val ev = table(s, d, "events")
      audit("orders_customer", table(s, d, "orders"), "o_custkey",
          table(s, d, "customer"), "c_custkey")
        .unionByName(audit("events_self_user", ev, "user_id", ev, "user_id"))
        .unionByName(audit("customer_supplier_nation",
          table(s, d, "customer"), "c_nationkey",
          table(s, d, "supplier"), "s_nationkey"))
    }),

    // ---- q260: join-order advisor --------------------------------------
    // q260 join-order advisor: System-R intermediate-size estimates
    // for the three orders of a 3-table DAG — the CBO decision,
    // emitted as an auditable query.
    // For lineitem ⋈ orders ⋈ customer the planner's real choice is
    // which join runs first; System-R scores each order by its
    // INTERMEDIATE cardinality (the only term that differs — the
    // final size is order-invariant under the uniformity model).
    // Starting with the keyless pair (lineitem × customer) scores as
    // a cross product — the advisor's job is to rank exactly that
    // catastrophically last. Six scalar stats (3 counts + 3 ndv)
    // computed in 3 map-side-combined aggregates, cross-joined 1-row
    // frames, a 3-row output ranked by estimate. At 100 TB these
    // stats come from ANALYZE metadata instead of scans; the
    // arithmetic — and this audit — are unchanged.
    "q260_join_order_advisor" -> ((s, d) => {
      val ls = table(s, d, "lineitem")
        .agg(count(lit(1)).as("n_l"),
          countDistinct("l_orderkey").as("ndv_l_ok"))
      val os = table(s, d, "orders")
        .agg(count(lit(1)).as("n_o"),
          countDistinct("o_orderkey").as("ndv_o_ok"),
          countDistinct("o_custkey").as("ndv_o_ck"))
      val cs = table(s, d, "customer")
        .agg(count(lit(1)).as("n_c"),
          countDistinct("c_custkey").as("ndv_c_ck"))
      val stats = ls.crossJoin(os).crossJoin(cs)
      val est = stats.select(
        expr("n_l * n_o div greatest(ndv_l_ok, ndv_o_ok)").as("lo"),
        expr("n_o * n_c div greatest(ndv_o_ck, ndv_c_ck)").as("oc"),
        expr("n_l * n_c").as("lc"))
      est.select(explode(array(
          struct(lit("lineitem_orders_first").as("join_order"),
            col("lo").as("est_intermediate_rows")),
          struct(lit("orders_customer_first").as("join_order"),
            col("oc").as("est_intermediate_rows")),
          struct(lit("lineitem_customer_first").as("join_order"),
            col("lc").as("est_intermediate_rows")))).as("p"))
        .select(col("p.join_order").as("join_order"),
          col("p.est_intermediate_rows").as("est_intermediate_rows"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("est_intermediate_rows"),
            col("join_order"))).cast("long"))
    }),

    // ---- q265: dictionary-encoding advisor -----------------------------
    // q265 dictionary-encoding advisor: per-column plain vs
    // dict-encoded size estimate — the storage-layout ANALYZE a
    // 100 TB parquet rewrite runs before choosing encodings.
    // q222's stacked-scan shape again: one scan per table, ONE
    // (col, value) shuffle carrying map-side-combined per-value
    // counts, then a per-column rollup. Sizes in character units
    // (ASCII corpus): plain = Σ len(v); dict = Σ_distinct len(v) +
    // n·ceil(log2 ndv) bits. The code width comes from
    // length(bin(ndv−1)) — exact integer bit length, no float log2.
    // ratio_ppm < 1e6 means the dictionary wins; c_name (unique per
    // row) reports > 1e6 — the advisor's negative control.
    "q265_encoding_advisor" -> ((s, d) => {
      val stacked = EncCols.groupBy(_._1).toSeq.map { case (t, tc) =>
        table(s, d, t).select(explode(array(tc.map { case (_, c) =>
          struct(lit(s"$t.$c").as("col_name"),
            col(c).cast("string").as("v"))
        }: _*)).as("p"))
          .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      }.reduce(_ unionByName _)
      val perVal = stacked.groupBy("col_name", "v")
        .agg(count(lit(1)).as("c"), length(col("v")).cast("long").as("len"))
      perVal.groupBy("col_name")
        .agg(sum("c").as("n"), count(lit(1)).as("ndv"),
          sum(expr("c * len")).as("plain_units"),
          sum("len").as("dict_units"))
        .select(col("col_name"), col("n"), col("ndv"),
          col("plain_units"), col("dict_units"),
          length(bin(col("ndv") - 1)).cast("long").as("code_bits"),
          (col("dict_units") +
            expr("(n * length(bin(ndv - 1)) + 7) div 8")).as("dict_total"),
          expr("""(dict_units + (n * length(bin(ndv - 1)) + 7) div 8)
                  * 1000000 div plain_units""").as("ratio_ppm"))
    }),

    // ---- q270: RLE/sortedness advisor ----------------------------------
    // q270 RLE/sortedness advisor: run counts per column in storage
    // order — whether run-length encoding (or a re-sort) pays.
    // Runs per column in STORAGE order (event_id is the dense write
    // order, asserted min/max/count elsewhere): adjacency via the
    // id−1 EQUI-join — a co-partitioned hash join at any scale, never
    // a global-order window. One joined scan emits all columns' run
    // counts; rle_ppm = runs/rows — near 1e6 means RLE is pointless
    // without a re-sort (cf. q127 Z-order / q163 zone maps).
    "q270_rle_advisor" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_id"), col("event_type"), col("user_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
          expr("ts div 86400000000000").as("day"))
      val prev = ev.select(col("event_id").as("pid"),
        col("event_type").as("p_type"), col("user_id").as("p_user"),
        col("cents").as("p_cents"), col("day").as("p_day"))
      val joined = ev.join(prev, col("event_id") === col("pid") + 1)
      val tot = ev.agg(count(lit(1)).as("n_rows"))
      joined.agg(
          sum(when(col("event_type") =!= col("p_type"), 1L).otherwise(0L))
            .as("ch_type"),
          sum(when(col("user_id") =!= col("p_user"), 1L).otherwise(0L))
            .as("ch_user"),
          sum(when(col("cents") =!= col("p_cents"), 1L).otherwise(0L))
            .as("ch_cents"),
          sum(when(col("day") =!= col("p_day"), 1L).otherwise(0L))
            .as("ch_day"))
        .crossJoin(broadcast(tot))
        .select(explode(array(
          struct(lit("event_type").as("col_name"),
            (col("ch_type") + 1).as("n_runs")),
          struct(lit("user_id").as("col_name"),
            (col("ch_user") + 1).as("n_runs")),
          struct(lit("cents").as("col_name"),
            (col("ch_cents") + 1).as("n_runs")),
          struct(lit("day").as("col_name"),
            (col("ch_day") + 1).as("n_runs")))).as("p"), col("n_rows"))
        .select(col("p.col_name").as("col_name"),
          col("p.n_runs").as("n_runs"), col("n_rows"),
          expr("p.n_runs * 1000000 div n_rows").as("rle_ppm"))
    }),

    // ---- q298: skew-salt advisor ---------------------------------------
    // q298 skew-salt advisor: per heavy join/group key, the salt
    // factor that levels it to the per-partition target (the q57/q156
    // salting machinery decides HOW; this decides WHICH keys and BY
    // HOW MUCH).
    // Two candidate key columns stacked map-side; per key: rows, share
    // in ppm, and — for keys exceeding 2× the per-partition target at
    // the pinned parallelism (32, the session's shuffle width) — the
    // salt factor ⌈n/target⌉ and the post-salt share. One histogram
    // shuffle per stack (map-side combined, key-domain-bounded output);
    // at any scale the advisor's cost is the scan.
    "q298_salt_advisor" -> ((s, d) => {
      val keys = table(s, d, "events")
        .select(lit("events.event_type").as("key_col"),
          col("event_type").as("key"))
        .unionByName(table(s, d, "orders")
          .select(lit("orders.o_orderpriority").as("key_col"),
            col("o_orderpriority").as("key")))
      val counts = keys.groupBy("key_col", "key")
        .agg(count(lit(1)).as("n"))
      val tot = counts.groupBy("key_col").agg(sum("n").as("nt"))
      counts.join(broadcast(tot), "key_col")
        .withColumn("target", expr("nt div 32 + 1"))
        .filter(col("n") > lit(2) * col("target"))
        .select(col("key_col"), col("key"), col("n"),
          expr("n * 1000000 div nt").as("share_ppm"),
          expr("(n + target - 1) div target").as("salt_factor"),
          expr("(n * 1000000 div nt) div ((n + target - 1) div target)")
            .as("post_salt_share_ppm"))
    }),

    // ---- q299: session-gap sizing advisor ------------------------------
    // q299 session-gap sizing advisor: exact quantiles of the
    // per-user inter-event gap distribution → the gap parameter the
    // sessionizers (q29, q67) should carry. (A watermark advisor was
    // considered and rejected: this corpus's arrival order is exactly
    // its event-time order — q154 measures zero lateness — so the
    // gap distribution is the sizing decision with real signal.)
    // The gap parameter a sessionizer (q29, q67's session windows)
    // carries is set from the per-user inter-event gap distribution:
    // exact p50/p90/p99/max in integer seconds via the domain-bounded
    // histogram + cumulative window (the q181/q285 order-statistic
    // discipline — the window runs over distinct gap values, never
    // rows; per-user lead keeps the first window partition-bounded).
    // The advisory row is the p90 rounded UP to the next minute: gaps
    // above it are "session breaks" for ~10% of adjacent pairs — the
    // usual starting calibration. Driver state is 5 scalar actions.
    "q299_session_gap_advisor" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = table(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("nxt", lead("ts", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(expr("(nxt - ts) div 1000000000").as("gap_s"))
      val n = gaps.agg(count(lit(1)).as("n"))
      val cw = Window.orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // persisted: three percentile probes + max + count hit this
      // domain-bounded frame; without the cache each scalar action
      // re-runs the per-user window over the corpus.
      val hist = gaps.groupBy("gap_s").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(cw))
        .crossJoin(broadcast(n))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def pct(p: Int) = hist
        .filter(col("cum") * 100 >= col("n") * p)
        .agg(min("gap_s")).head().getLong(0)
      val p50 = pct(50); val p90 = pct(90); val p99 = pct(99)
      // max and count come from the cached histogram, not fresh
      // corpus passes
      val mx = hist.agg(max("gap_s")).head().getLong(0)
      val nl = hist.agg(max("n")).head().getLong(0)
      import s.implicits._
      Seq(("p50_s", p50), ("p90_s", p90), ("p99_s", p99), ("max_s", mx),
        ("n_gaps", nl),
        ("advised_gap_s", (p90 + 59) / 60 * 60))
        .toDF("stat", "value_s")
    }),

    // Merkle drill-down — the recursion step q188's
    // order-insensitive bucketed checksum documented ("a mismatched
    // bucket narrows the diff to 1/64 of the keyspace; recurse"). Two
    // corpus versions (q123's deterministic slices) compare by 64
    // top-level checksums; ONLY the mismatched buckets expand one level
    // (64 sub-buckets each), so the localization cost is proportional to
    // the number of DIFFERING regions — never the table — which is how
    // two 100 TB replicas reconcile with kilobytes of exchanged digests.

    // ---- q312: two-level Merkle diff localization ----------------------
    // Row hash: 52 md5 bits of (doc_id, version text); level-1 bucket
    // hv % 64, level-2 (hv div 64) % 64. One pass per version computes
    // the (b1, b2) cell frame (≤ 4096 rows — domain-bounded);
    // level-1 totals re-aggregate the cells. Mismatched level-1
    // buckets (full outer on checksums) gate which level-2 cells are
    // emitted; each output row is a narrowed differing region with
    // both sides' counts and residue checksums. Buckets where one
    // side is absent report zeros — absence IS the diff.
    "q312_merkle_diff_drilldown" -> ((s, d) => {
      def cells(version: Int): DataFrame = {
        val docs = table(s, d, "documents")
        val v =
          if (version == 1)
            docs.filter(col("doc_id") % 17 =!= 0)
              .select(col("doc_id"),
                when(col("doc_id") % 13 === 0, substring(col("text"), 1, 10))
                  .otherwise(col("text")).as("t"))
          else
            docs.filter(col("doc_id") % 19 =!= 0)
              .select(col("doc_id"), col("text").as("t"))
        v.select(expr(
            """CAST(conv(substring(md5(concat_ws('|',
                 CAST(doc_id AS STRING), t)), 1, 13), 16, 10)
               AS BIGINT)""").as("hv"))
          .select((col("hv") % 64).as("b1"),
            expr("(hv div 64) % 64").as("b2"),
            (col("hv") % 1000000007L).as("res"))
          .groupBy("b1", "b2")
          .agg(count(lit(1)).as("n"),
            (sum("res") % 1000000007L).as("c"))
      }
      val c1 = cells(1).persist()
      val c2 = cells(2).persist()
      def lvl1(c: DataFrame) = c.groupBy("b1")
        .agg(sum("n").as("n_l1"), (sum("c") % 1000000007L).as("c_l1"))
      val bad1 = lvl1(c1)
        .withColumnRenamed("n_l1", "n1").withColumnRenamed("c_l1", "ck1")
        .join(lvl1(c2)
          .withColumnRenamed("n_l1", "n2").withColumnRenamed("c_l1", "ck2"),
          Seq("b1"), "full_outer")
        .na.fill(0L, Seq("n1", "n2", "ck1", "ck2"))
        .filter(col("n1") =!= col("n2") || col("ck1") =!= col("ck2"))
        .select("b1")
      c1.select(col("b1"), col("b2"), col("n").as("n1"),
          col("c").as("ck1"))
        .join(c2.select(col("b1"), col("b2"), col("n").as("n2"),
          col("c").as("ck2")), Seq("b1", "b2"), "full_outer")
        .na.fill(0L, Seq("n1", "n2", "ck1", "ck2"))
        .join(bad1, Seq("b1"), "left_semi")
        .filter(col("n1") =!= col("n2") || col("ck1") =!= col("ck2"))
        .select("b1", "b2", "n1", "n2", "ck1", "ck2")
    }),

    // Estimator audits — Chao1 vocabulary richness (how
    // many distinct tokens exist beyond what the sample shows, from the
    // singleton/doubleton counts alone) and a join-cardinality estimator
    // audit (the optimizer's uniform-frequency assumption vs the exact
    // self-join size, per key bucket — where the estimate blows up is
    // exactly where a skew-aware plan is needed).

    // ---- q352: join-cardinality estimator audit --------------------------
    // Keys hash into 16 buckets; per bucket the optimizer's
    // uniform-frequency self-join estimate n² div d is audited against
    // the exact Σf² (both from ONE frequency fold — the actual
    // self-join is never materialized). err_ppm > 0 everywhere
    // (Cauchy–Schwarz); the hot buckets are the skew the q298 salt
    // advisor would treat. The estimator-vs-truth shape every
    // cost-based planner should be able to run on its own data.
    "q352_join_card_audit" -> ((s, d) => {
      val f = table(s, d, "lineitem")
        .groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("c"))
        .withColumn("bucket", expr("k % 16"))
      f.groupBy("bucket")
        .agg(sum("c").as("n_rows"),
          count(lit(1)).as("d_keys"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("long")
            .as("actual_selfjoin"))
        .select(col("bucket"), col("n_rows"), col("d_keys"),
          expr("""CAST((CAST(n_rows AS DECIMAL(38,0)) * n_rows)
              div d_keys AS BIGINT)""").as("est_selfjoin"),
          col("actual_selfjoin"),
          expr("""CAST(((CAST(n_rows AS DECIMAL(38,0)) * n_rows)
              div d_keys - actual_selfjoin)
              * 1000000 div actual_selfjoin AS BIGINT)""").as("err_ppm"))
    }),

    // Physical-design inputs — the join fan-out profile
    // (the lines-per-order distribution a planner's cardinality model and
    // a denormalization decision both need) and the quantity-WEIGHTED
    // median unit price per brand (an unweighted median over line rows
    // answers "the median line"; the weighted one answers "the median
    // sold unit" — different question, same exact order-statistic
    // machinery with weight-cumulative sums).

    // ---- q379: orders→lineitem fan-out profile ----------------------------
    // Lines-per-order histogram (left join keeps zero-line orders in
    // bucket 0), share ppm, and the fan-out moments every join-size
    // estimate starts from. Clamped at 10+ so the frame is bounded.
    "q379_join_fanout_profile" -> ((s, d) => {
      val fan = table(s, d, "orders")
        .select(col("o_orderkey").as("ok"))
        .join(table(s, d, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("k")), Seq("ok"), "left")
        .na.fill(0L, Seq("k"))
      fan.groupBy(expr("least(10, k)").as("fanout"))
        .agg(count(lit(1)).as("n_orders"), sum("k").as("n_lines"))
        .withColumn("share_ppm",
          expr("n_orders * 1000000 div sum(n_orders) OVER ()"))
    }),

    // ---- q385: Z-order vs lexicographic vs round-robin layout ----------
    // q385 space-filling-curve layout advisor: measures min/max-pruning
    // effectiveness of a Z-ORDER file layout against leading-column
    // lexicographic and round-robin layouts for a 2-D box predicate,
    // entirely by VALUE bucketing (file = value range, exactly what a
    // range-partitioned write produces) — no global row_number sort, so
    // the simulation itself scales.
    // Coordinates: a = l_partkey % 256, b = l_suppkey % 256. Layouts
    // assign each row to a "file" by VALUE (what a range-partitioned
    // write produces): zorder file = z div 256 (256 curve segments),
    // lex file = a (leading column ranges), round-robin file =
    // l_orderkey % 256 (ingestion order, no clustering). Per file the
    // zone map (min/max of a and b) decides whether the box predicate
    // a∈[64,127] ∧ b∈[2,5] (in-domain at every sf: suppkey spans only 0..9 at sf0.001) can skip it. One corpus scan, one
    // (layout, file) aggregation — the three layouts ride a single
    // explode, and no step sorts the corpus globally.
    "q385_zorder_layout" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .select((col("l_partkey") % 256).as("a"),
          (col("l_suppkey") % 256).as("b"),
          col("l_orderkey"))
        .withColumn("z", expr(zExpr("a", "b")))
      val tagged = li.select(col("a"), col("b"), explode(array(
        struct(lit("zorder").as("layout"), expr("z div 256").as("file")),
        struct(lit("lex").as("layout"), col("a").as("file")),
        struct(lit("roundrobin").as("layout"),
          (col("l_orderkey") % 256).as("file")))).as("lf"))
        .select(col("lf.layout").as("layout"), col("lf.file").as("file"),
          col("a"), col("b"))
      val files = tagged.groupBy("layout", "file")
        .agg(count(lit(1)).as("n_rows"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"))
      val matched = li
        .filter(col("a").between(64, 127) && col("b").between(2, 5))
        .agg(count(lit(1)).as("rows_matched"))
      files
        .withColumn("scanned",
          (col("max_a") >= 64 && col("min_a") <= 127 &&
            col("max_b") >= 2 && col("min_b") <= 5).cast("long"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum("scanned").as("files_scanned"),
          sum(col("scanned") * col("n_rows")).as("rows_scanned"))
        .crossJoin(broadcast(matched))
        .withColumn("scan_amplification_ppm",
          expr("rows_scanned * 1000000 div greatest(1, rows_matched)"))
        .orderBy("layout")
    }))

  private val encStackSql = EncCols.map { case (t, c) =>
    s"SELECT '$t.$c' AS col_name, CAST($c AS VARCHAR) AS v FROM $t"
  }.mkString("\n UNION ALL ")

  val oracle: Map[String, String] = Map(
    "q188_table_checksum" ->
      """WITH h AS (
           SELECT CAST(('0x' || substr(md5(
                    concat_ws('|', l_orderkey, l_partkey, l_suppkey,
                              l_linenumber, l_returnflag, l_linestatus,
                              COALESCE(epoch_us(l_shipdate), -1))),
                  1, 13)) AS BIGINT) AS hv
           FROM lineitem)
         SELECT hv % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(hv % 1000000007) % 1000000007 AS BIGINT)
                  AS checksum
         FROM h GROUP BY hv % 64""",
    "q207_shard_rebalance" ->
      """WITH hx AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                    1, 13)) AS BIGINT) AS h
           FROM documents),
         hrw AS (
           SELECT doc_id, s,
                  md5(CAST(doc_id AS VARCHAR) || '#' ||
                      CAST(s AS VARCHAR)) AS hv
           FROM (SELECT doc_id, unnest(range(20)) AS s FROM documents)),
         a16 AS (SELECT doc_id, arg_max(s, hv) AS s16 FROM hrw
                 WHERE s < 16 GROUP BY doc_id),
         a20 AS (SELECT doc_id, arg_max(s, hv) AS s20 FROM hrw
                 GROUP BY doc_id)
         SELECT * FROM (
           SELECT 'mod' AS scheme, CAST(count(*) AS BIGINT) AS n_total,
                  CAST(sum(CASE WHEN h % 16 <> h % 20 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved,
                  CAST(sum(CASE WHEN h % 16 <> h % 20 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS moved_ppm
           FROM hx
           UNION ALL
           SELECT 'rendezvous', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN s16 <> s20 THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(sum(CASE WHEN s16 <> s20 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT)
           FROM a16 JOIN a20 USING (doc_id))""",
    "q213_compaction_plan" ->
      """WITH cum AS (
           SELECT doc_id, n_chars AS bytes,
                  sum(n_chars) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM documents)
         SELECT CAST((cum - bytes) // 4000 AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(bytes) AS BIGINT) AS bytes_total,
                CAST(min(doc_id) AS BIGINT) AS first_doc,
                CAST(max(doc_id) AS BIGINT) AS last_doc
         FROM cum GROUP BY 1""",
    "q214_occ_conflicts" ->
      """WITH commits AS (
           SELECT o_orderkey AS ck, o_orderkey % 8 AS part,
                  CAST(epoch(o_orderdate) AS BIGINT) AS start_sec,
                  CAST(epoch(o_orderdate) AS BIGINT)
                    + CAST(floor(o_totalprice) AS BIGINT) % 604800
                    AS commit_sec
           FROM orders WHERE o_orderkey % 10 = 0),
         pairs AS (
           SELECT a.ck, a.part, count(DISTINCT b.ck) AS n_concurrent
           FROM commits a JOIN commits b
             ON b.part = a.part AND b.ck <> a.ck
            AND b.commit_sec > a.start_sec
            AND b.commit_sec <= a.commit_sec
           GROUP BY a.ck, a.part)
         SELECT part, CAST(count(*) AS BIGINT) AS n_conflicted,
                CAST(sum(n_concurrent) AS BIGINT) AS total_conflicts,
                CAST(max(n_concurrent) AS BIGINT) AS max_conflicts
         FROM pairs GROUP BY part""",
    "q248_range_plan" ->
      """WITH ev AS (
           SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
                  CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                    1, 13)) AS BIGINT) AS h
           FROM events),
         sample AS (SELECT cents FROM ev ORDER BY h, event_id LIMIT 256),
         ranked AS (
           SELECT cents, row_number() OVER (ORDER BY cents) AS rn
           FROM sample),
         splits AS (
           SELECT list_sort(list(cents)) AS sp FROM ranked
           WHERE rn % 32 = 0 AND rn < 256),
         b AS (
           SELECT len(list_filter(sp, x -> x <= cents)) AS bucket
           FROM ev CROSS JOIN splits),
         tot AS (SELECT count(*) AS n_total FROM ev)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) * 8 * 1000000 // n_total AS BIGINT)
                  AS share_ppm
         FROM b CROSS JOIN tot GROUP BY bucket, n_total""",

    "q251_join_size_audit" ->
      """WITH h1l AS (SELECT o_custkey AS k, count(*) AS c
                      FROM orders GROUP BY 1),
         h1r AS (SELECT c_custkey AS k, count(*) AS c
                 FROM customer GROUP BY 1),
         h2 AS (SELECT user_id AS k, count(*) AS c
                FROM events GROUP BY 1),
         h3l AS (SELECT c_nationkey AS k, count(*) AS c
                 FROM customer GROUP BY 1),
         h3r AS (SELECT s_nationkey AS k, count(*) AS c
                 FROM supplier GROUP BY 1),
         a AS (
           SELECT 'orders_customer' AS join_name,
             (SELECT CAST(sum(c) AS BIGINT) FROM h1l) AS n_left,
             (SELECT CAST(sum(c) AS BIGINT) FROM h1r) AS n_right,
             greatest((SELECT count(*) FROM h1l),
                      (SELECT count(*) FROM h1r)) AS ndv_max,
             (SELECT CAST(sum(l.c * r.c) AS BIGINT)
              FROM h1l l JOIN h1r r USING (k)) AS actual_rows
           UNION ALL
           SELECT 'events_self_user',
             (SELECT CAST(sum(c) AS BIGINT) FROM h2),
             (SELECT CAST(sum(c) AS BIGINT) FROM h2),
             (SELECT count(*) FROM h2),
             (SELECT CAST(sum(l.c * r.c) AS BIGINT)
              FROM h2 l JOIN h2 r USING (k))
           UNION ALL
           SELECT 'customer_supplier_nation',
             (SELECT CAST(sum(c) AS BIGINT) FROM h3l),
             (SELECT CAST(sum(c) AS BIGINT) FROM h3r),
             greatest((SELECT count(*) FROM h3l),
                      (SELECT count(*) FROM h3r)),
             (SELECT CAST(sum(l.c * r.c) AS BIGINT)
              FROM h3l l JOIN h3r r USING (k)))
         SELECT join_name, n_left, n_right, CAST(ndv_max AS BIGINT) AS ndv_max,
           n_left * n_right // ndv_max AS est_rows, actual_rows,
           (n_left * n_right // ndv_max) * 1000000 // actual_rows
             AS est_over_actual_ppm
         FROM a""",
    "q260_join_order_advisor" ->
      """WITH ls AS (SELECT count(*) AS n_l,
             count(DISTINCT l_orderkey) AS ndv_l_ok FROM lineitem),
         os AS (SELECT count(*) AS n_o,
             count(DISTINCT o_orderkey) AS ndv_o_ok,
             count(DISTINCT o_custkey) AS ndv_o_ck FROM orders),
         cs AS (SELECT count(*) AS n_c,
             count(DISTINCT c_custkey) AS ndv_c_ck FROM customer),
         est AS (
           SELECT 'lineitem_orders_first' AS join_order,
             n_l * n_o // greatest(ndv_l_ok, ndv_o_ok)
               AS est_intermediate_rows
           FROM ls CROSS JOIN os
           UNION ALL
           SELECT 'orders_customer_first',
             n_o * n_c // greatest(ndv_o_ck, ndv_c_ck)
           FROM os CROSS JOIN cs
           UNION ALL
           SELECT 'lineitem_customer_first', n_l * n_c
           FROM ls CROSS JOIN cs)
         SELECT join_order, est_intermediate_rows,
           CAST(row_number() OVER (ORDER BY est_intermediate_rows,
             join_order) AS BIGINT) AS rank
         FROM est""",
    "q265_encoding_advisor" ->
      s"""WITH stacked AS (
           $encStackSql),
         pv AS (
           SELECT col_name, v, count(*) AS c,
             CAST(length(v) AS BIGINT) AS len
           FROM stacked GROUP BY col_name, v),
         agg AS (
           SELECT col_name, CAST(sum(c) AS BIGINT) AS n,
             count(*) AS ndv,
             CAST(sum(c * len) AS BIGINT) AS plain_units,
             CAST(sum(len) AS BIGINT) AS dict_units
           FROM pv GROUP BY col_name)
         SELECT col_name, n, ndv, plain_units, dict_units,
           CAST(length(bin(ndv - 1)) AS BIGINT) AS code_bits,
           dict_units + (n * length(bin(ndv - 1)) + 7) // 8 AS dict_total,
           (dict_units + (n * length(bin(ndv - 1)) + 7) // 8)
             * 1000000 // plain_units AS ratio_ppm
         FROM agg""",

    "q270_rle_advisor" ->
      """WITH ev AS (
           SELECT event_id, event_type, user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         j AS (
           SELECT c.event_type AS t, p.event_type AS pt,
             c.user_id AS u, p.user_id AS pu,
             c.cents AS v, p.cents AS pv,
             c.day AS dd, p.day AS pd
           FROM ev c JOIN ev p ON c.event_id = p.event_id + 1),
         ch AS (
           SELECT
             CAST(sum(CASE WHEN t <> pt THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS r_type,
             CAST(sum(CASE WHEN u <> pu THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS r_user,
             CAST(sum(CASE WHEN v <> pv THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS r_cents,
             CAST(sum(CASE WHEN dd <> pd THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS r_day
           FROM j),
         n AS (SELECT count(*) AS n_rows FROM ev)
         SELECT col_name, n_runs, n_rows,
           n_runs * 1000000 // n_rows AS rle_ppm
         FROM (
           SELECT 'event_type' AS col_name, r_type AS n_runs FROM ch
           UNION ALL SELECT 'user_id', r_user FROM ch
           UNION ALL SELECT 'cents', r_cents FROM ch
           UNION ALL SELECT 'day', r_day FROM ch)
         CROSS JOIN n""",
    "q298_salt_advisor" ->
      """WITH keys AS (
           SELECT 'events.event_type' AS key_col, event_type AS key
           FROM events
           UNION ALL
           SELECT 'orders.o_orderpriority', o_orderpriority FROM orders),
         counts AS (
           SELECT key_col, key, count(*) AS n FROM keys GROUP BY 1, 2),
         tot AS (SELECT key_col, sum(n) AS nt FROM counts GROUP BY 1)
         SELECT c.key_col, c.key, CAST(c.n AS BIGINT) AS n,
           CAST(c.n * 1000000 // t.nt AS BIGINT) AS share_ppm,
           CAST((c.n + t.nt // 32 + 1 - 1) // (t.nt // 32 + 1)
             AS BIGINT) AS salt_factor,
           CAST((c.n * 1000000 // t.nt)
                // ((c.n + t.nt // 32 + 1 - 1) // (t.nt // 32 + 1))
             AS BIGINT) AS post_salt_share_ppm
         FROM counts c JOIN tot t ON c.key_col = t.key_col
         WHERE c.n > 2 * (t.nt // 32 + 1)""",

    "q299_session_gap_advisor" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS ts FROM events),
         g AS (
           SELECT (nxt - ts) // 1000000000 AS gap_s FROM (
             SELECT ts, lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
             FROM e)
           WHERE nxt IS NOT NULL),
         n AS (SELECT count(*) AS n FROM g),
         hist AS (
           SELECT gap_s, sum(count(*)) OVER (ORDER BY gap_s
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM g GROUP BY gap_s),
         p AS (
           SELECT
             (SELECT min(gap_s) FROM hist, n WHERE cum * 100 >= n * 50)
               AS p50,
             (SELECT min(gap_s) FROM hist, n WHERE cum * 100 >= n * 90)
               AS p90,
             (SELECT min(gap_s) FROM hist, n WHERE cum * 100 >= n * 99)
               AS p99,
             (SELECT max(gap_s) FROM g) AS mx,
             (SELECT n FROM n) AS nl)
         SELECT 'p50_s' AS stat, CAST(p50 AS BIGINT) AS value_s FROM p
         UNION ALL SELECT 'p90_s', p90 FROM p
         UNION ALL SELECT 'p99_s', p99 FROM p
         UNION ALL SELECT 'max_s', mx FROM p
         UNION ALL SELECT 'n_gaps', nl FROM p
         UNION ALL SELECT 'advised_gap_s',
           (p90 + 59) // 60 * 60 FROM p""",
    "q312_merkle_diff_drilldown" ->
      """WITH v1 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 10)
                  ELSE text END AS t
           FROM documents WHERE doc_id % 17 <> 0),
         v2 AS (SELECT doc_id, text AS t
                FROM documents WHERE doc_id % 19 <> 0),
         h1 AS (
           SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             || '|' || t), 1, 13)) AS BIGINT) AS hv FROM v1),
         h2 AS (
           SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
             || '|' || t), 1, 13)) AS BIGINT) AS hv FROM v2),
         cell1 AS (
           SELECT hv % 64 AS b1, (hv // 64) % 64 AS b2,
             count(*) AS n, sum(hv % 1000000007) % 1000000007 AS c
           FROM h1 GROUP BY 1, 2),
         cell2 AS (
           SELECT hv % 64 AS b1, (hv // 64) % 64 AS b2,
             count(*) AS n, sum(hv % 1000000007) % 1000000007 AS c
           FROM h2 GROUP BY 1, 2),
         l1a AS (SELECT b1, sum(n) AS n_l1, sum(c) % 1000000007 AS c_l1
                 FROM cell1 GROUP BY 1),
         l1b AS (SELECT b1, sum(n) AS n_l1, sum(c) % 1000000007 AS c_l1
                 FROM cell2 GROUP BY 1),
         bad1 AS (
           SELECT coalesce(a.b1, b.b1) AS b1
           FROM l1a a FULL OUTER JOIN l1b b ON a.b1 = b.b1
           WHERE coalesce(a.n_l1, 0) <> coalesce(b.n_l1, 0)
              OR coalesce(a.c_l1, 0) <> coalesce(b.c_l1, 0)),
         cells AS (
           SELECT coalesce(a.b1, b.b1) AS b1,
             coalesce(a.b2, b.b2) AS b2,
             coalesce(a.n, 0) AS n1, coalesce(b.n, 0) AS n2,
             coalesce(a.c, 0) AS ck1, coalesce(b.c, 0) AS ck2
           FROM cell1 a FULL OUTER JOIN cell2 b
             ON a.b1 = b.b1 AND a.b2 = b.b2)
         SELECT CAST(c.b1 AS BIGINT) AS b1, CAST(c.b2 AS BIGINT) AS b2,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(ck1 AS BIGINT) AS ck1, CAST(ck2 AS BIGINT) AS ck2
         FROM cells c JOIN bad1 ON c.b1 = bad1.b1
         WHERE n1 <> n2 OR ck1 <> ck2""",

    "q352_join_card_audit" ->
      """WITH f AS (
           SELECT l_partkey AS k, count(*) AS c
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT k % 16 AS bucket, sum(c) AS n_rows,
             count(*) AS d_keys,
             CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS actual_selfjoin
           FROM f GROUP BY 1)
         SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(d_keys AS BIGINT) AS d_keys,
           CAST((CAST(n_rows AS HUGEINT) * n_rows) // d_keys AS BIGINT)
             AS est_selfjoin,
           CAST(actual_selfjoin AS BIGINT) AS actual_selfjoin,
           CAST(((CAST(n_rows AS HUGEINT) * n_rows) // d_keys
             - actual_selfjoin)
             * 1000000 // actual_selfjoin AS BIGINT) AS err_ppm
         FROM b""",
    "q379_join_fanout_profile" ->
      """WITH fan AS (
           SELECT o_orderkey AS ok, coalesce(k, 0) AS k
           FROM orders
           LEFT JOIN (SELECT l_orderkey, count(*) AS k
                      FROM lineitem GROUP BY 1) l
             ON o_orderkey = l_orderkey),
         g AS (
           SELECT least(10, k) AS fanout, count(*) AS n_orders,
             sum(k) AS n_lines
           FROM fan GROUP BY 1)
         SELECT CAST(fanout AS BIGINT) AS fanout,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_orders * 1000000 // sum(n_orders) OVER () AS BIGINT)
             AS share_ppm
         FROM g""",
    "q385_zorder_layout" -> {
      // same arithmetic text, DuckDB's integer-division spelling
      val z = zExpr("a", "b").replace(" div ", " // ")
      s"""WITH base AS (
           SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b, l_orderkey
           FROM lineitem),
         tagged AS (
           SELECT 'zorder' AS layout, ($z) // 256 AS file, a, b FROM base
           UNION ALL
           SELECT 'lex', a, a, b FROM base
           UNION ALL
           SELECT 'roundrobin', l_orderkey % 256, a, b FROM base),
         files AS (
           SELECT layout, file, count(*) AS n_rows,
             min(a) AS min_a, max(a) AS max_a,
             min(b) AS min_b, max(b) AS max_b
           FROM tagged GROUP BY 1, 2),
         matched AS (
           SELECT count(*) AS rows_matched FROM base
           WHERE a BETWEEN 64 AND 127 AND b BETWEEN 2 AND 5)
         SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN max_a >= 64 AND min_a <= 127
                     AND max_b >= 2 AND min_b <= 5
                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN max_a >= 64 AND min_a <= 127
                     AND max_b >= 2 AND min_b <= 5
                THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(max(rows_matched) AS BIGINT) AS rows_matched,
           CAST(sum(CASE WHEN max_a >= 64 AND min_a <= 127
                     AND max_b >= 2 AND min_b <= 5
                THEN n_rows ELSE 0 END) * 1000000
             // greatest(1, max(rows_matched)) AS BIGINT)
             AS scan_amplification_ppm
         FROM files CROSS JOIN matched
         GROUP BY layout
         ORDER BY layout"""
    })
}
