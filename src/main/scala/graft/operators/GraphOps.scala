package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Graph-shaped operators for training-data curation — here: near-dup
  * CLUSTERING. LSH (q37) emits candidate PAIRS; a dedup pipeline needs
  * components ("this group of documents is one duplicate family, keep
  * the canonical one"). Connected components via hash-min label
  * propagation — each round every node takes the min component id among
  * itself and its neighbors; rounds needed = graph diameter, and each
  * round is one join + one aggregation (all shuffle-partitioned by
  * node, no driver-side graph).
  */
object GraphOps extends QueryModule {
  /** One hash-min round over a SELF-LOOPED adjacency:
    * comp'(n) = min over {comp(m) : m ∈ N(n) ∪ {n}}. The self-loops
    * mean `comp` is referenced exactly ONCE per round — the iterated
    * logical plan grows linearly, where the textbook
    * "join-then-outer-join-back" step references it twice and doubles
    * the tree every round (2^rounds copies of the upstream pipeline).
    */
  private def step(comp: DataFrame, adjSelf: DataFrame): DataFrame =
    adjSelf
      .join(comp.withColumnRenamed("id", "src"), "src")
      .groupBy("dst").agg(min("comp").as("comp"))
      .withColumnRenamed("dst", "id")

  /** Both edge directions plus a self-loop per node; persisted ALREADY
    * HASH-PARTITIONED on the join key, so the per-round join reuses the
    * cached layout instead of re-exchanging the edge list every
    * iteration — edges ≫ nodes, so that exchange is the loop's
    * dominant shuffle at scale. (The comp side still shuffles each
    * round: it is node-sized, the cheap side.)
    */
  private def adjSelf(
      edges: DataFrame, resize: Boolean): (DataFrame, Long, Int) = {
    val adj = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"),
        col("a_id").as("dst")))
    val wide = adj.unionByName(
        adj.select(col("src")).distinct().withColumn("dst", col("src")))
      .repartition(col("src"))
      .persist()
    // resize = false (r12): the FIXED-round variant chains all rounds
    // into ONE caller action — the resize below spent two extra driver
    // actions (count + re-persist count, ~1.0 s of q139's 2.5 s wall
    // measured per job: two 1-task jobs plus their planning gaps) to
    // shave near-empty tasks off stages that all live inside that single
    // job. The convergence loop is the opposite trade: it re-scans the
    // cache once per probed round as its own job, so the small-graph
    // task floor dominates there and the resize stays (it also needs
    // `rows` for the AQE regime decision anyway). Resize=false returns
    // the lazily-persisted frame (populated by the caller's terminal
    // action — the r10 shape) and skips both counts.
    if (!resize) return (wide, -1L, -1)
    // Scale-adaptive cache layout (r11, guide §2): the cached adjacency
    // sets EVERY round's task count — a graph loop re-scans it once per
    // hash-min round, and AQE cannot coalesce a cached layout the way
    // it coalesces a fresh exchange. At the session default (32) a
    // few-thousand-edge blocking graph (q217's ER pairs, LSH-pair
    // families) paid ~32 near-empty tasks per job, ~8 jobs per probed
    // iteration — the measured q217 wall was 75 jobs / 4.2 s of
    // scheduling gaps with every job under 0.3 s. Re-layout the cache
    // to ceil(rows / 200k) partitions, capped at the session shuffle
    // parallelism, so small graphs loop on 1-2 tasks while a 100 TB
    // edge list keeps today's full fan-out (the cap is the conf a
    // cluster sizes to executors × cores). The count doubles as the
    // eager materialization the loop wants anyway; one extra exchange
    // replaces a 32× per-round task floor.
    val rows = wide.count()
    val cap = math.max(1,
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val want = math.max(1L, math.min(cap.toLong, rows / 200000L + 1L)).toInt
    val sized =
      if (want < cap) {
        val s = wide.repartition(want, col("src")).persist()
        s.count()
        wide.unpersist()
        s
      } else wide
    (sized, rows, want)
  }

  private def nodesOf(adj: DataFrame): DataFrame =
    adj.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))

  /** Fixed-round hash-min: a pure chained plan (no driver actions),
    * exact when `rounds` ≥ graph diameter. LSH-pair graphs are unions
    * of per-bucket cliques bridged by multi-bucket docs — diameter
    * stays tiny (each doc sits in ≤ #bands buckets), so a small
    * constant suffices; `connectedComponents` below is the
    * to-convergence variant for arbitrary graphs. */
  def connectedComponentsFixed(
      edges: DataFrame, rounds: Int): DataFrame =
    componentsAndAdjacency(edges, rounds)._1

  /** [[connectedComponentsFixed]] plus the adjacency it persists: that
    * cache fills on the caller's first action, so a caller that owns its
    * session's cache unpersists it after its last action. */
  def componentsAndAdjacency(
      edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val (adj, _, _) = adjSelf(edges, resize = false)
    ((1 to rounds).foldLeft(nodesOf(adj))((c, _) => step(c, adj)), adj)
  }

  /** To-convergence hash-min with one tiny driver action per round (the
    * fixpoint check: the sum of component ids strictly decreases until
    * converged). Persists per round so iteration i+1 reads a
    * materialized frame, not an ever-deepening lineage. */
  def connectedComponents(
      edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // coalesce(0): an EMPTY edge set (a corpus with no duplicate pairs
    // this run — legitimate at small scale) must yield an empty result,
    // not a null-sum crash in the convergence probe.
    def probe(df: DataFrame): Long =
      df.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
    // Pointer jumping (path halving): after each hash-min round,
    // comp(n) ← comp(comp(n)). Hash-min alone moves the component
    // minimum ONE hop per round — O(diameter) rounds, and a chain-y
    // graph (e.g. edit-distance-1 name chains in q217) pays tens of
    // driver-probed iterations. The jump composes the current labeling
    // with itself, halving every chain, so convergence is O(log
    // diameter). comp values are always node ids of the same component
    // (min over a neighborhood closure), so the self-join resolves;
    // left_outer+coalesce keeps the row if a label has no own entry.
    def jump(c: DataFrame): DataFrame =
      c.join(c.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"), "left_outer")
        .select(col("id"),
          coalesce(col("ccomp"), col("comp")).as("comp"))
    // localCheckpoint (eager), not persist: `jump` references the
    // round's frame TWICE, so with plain persist the logical plan
    // doubles every round — exponential analyzer/optimizer blowup that
    // OOMs the driver near round ~30 even on tiny data (persist caches
    // rows, not lineage). Checkpointing truncates the plan to a leaf,
    // keeping per-round planning O(1). Executor-local storage is the
    // right trade for a convergence loop (re-derivable on loss); a
    // 1000-executor deployment with long jobs would point
    // spark.checkpoint.dir at reliable storage and use checkpoint().
    val (adj, adjRows, adjParts) = adjSelf(edges, resize = true)
    // Small-graph regime (r11, guide §1.2 step 1: fewer driver round
    // trips): every probed iteration's checkpoint action is split by
    // AQE into one stage-job per exchange (~8 near-empty jobs per
    // iteration measured on q217 AFTER the adjacency was sized — 77
    // jobs, 3.9 s of scheduling gaps, every job < 0.05 s). When the
    // measured adjacency is small, run the loop's INTERNAL actions
    // with AQE off and the shuffle parallelism pinned to the sized
    // cache layout: same physical work, one job per action instead of
    // one per exchange. A big graph (≥ cap partitions) keeps AQE —
    // there coalescing/skew handling earn their stage-jobs.
    //
    // Conf scoping (r12): the regime lives on a `newSession()` CHILD
    // (same SparkContext, shared cache — the persisted adjacency still
    // hits — private SQL conf), with the loop's frames re-bound to it
    // via PlanApi.rebind. The caller's session conf is never touched,
    // so a concurrent query on the same session cannot observe the
    // AQE/partitions override (the set/restore-in-`finally` this
    // replaces was single-thread-safe only). The returned frame is
    // re-bound to the caller's session; it is already materialized
    // (eager checkpoint — a LogicalRDD leaf), so nothing downstream
    // re-enters the child. Results are layout-independent either way.
    val spark = edges.sparkSession
    val smallGraph = adjRows < 5000000L
    val loop =
      if (smallGraph) {
        val c = spark.newSession()
        c.conf.set("spark.sql.adaptive.enabled", "false")
        c.conf.set("spark.sql.shuffle.partitions", adjParts.toString)
        c
      } else spark
    val adjL =
      if (smallGraph)
        org.apache.spark.sql.graft.PlanApi.rebind(adj, loop)
      else adj
    var comp = nodesOf(adjL).localCheckpoint(true)
    var prevSum = probe(comp)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // TWO (hash-min + path-halving) rounds per driver iteration
      // (r11): each iteration pays a fixed floor of one checkpoint
      // job + one probe job regardless of how much halving work it
      // carries, and on the floor-bound corpus sizes that fixed cost
      // IS the loop (q217 ran 81 jobs). Doubling the rounds between
      // probes halves the driver round-trips; the fixpoint test is
      // unchanged (per-node comp is monotone non-increasing, so an
      // unchanged sum still means BOTH sub-rounds were no-ops), at
      // the price of at most one redundant sub-round after
      // convergence. Monotonicity also keeps the result identical:
      // the fixpoint of hash-min CC is the per-component minimum
      // whatever the round grouping.
      val s1 = step(comp, adjL).persist()
      val s2 = step(jump(s1), adjL).persist()
      val next = jump(s2).localCheckpoint(true)
      val s = probe(next)
      s1.unpersist(); s2.unpersist()
      // `next` is materialized (eager checkpoint), so the superseded
      // round's checkpoint blocks have no future reader — release them
      // now rather than waiting for the ContextCleaner to GC the
      // frame: a long session invoking CC repeatedly (q87, q98, q217,
      // the convergence probes) otherwise accumulates dead
      // MEMORY_AND_DISK blocks across rounds and calls.
      org.apache.spark.sql.graft.PlanApi.releaseLocalCheckpoint(comp)
      comp = next
      converged = s == prevSum
      prevSum = s
      rounds += 1
    }
    adj.unpersist()
    if (smallGraph) org.apache.spark.sql.graft.PlanApi.rebind(comp, spark)
    else comp
  }

  /** Distinct customer→supplier trade edges (the q119/q187 graph). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    table(s, d, "lineitem")
      .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()

  /** Shift making balance-cents non-negative before integer division,
    * so `div` (truncation) == floor division on BOTH engines whatever
    * the sign of the sum: (Σc + n·K) div n − K = floor(Σc / n) for
    * Σc ≥ −n·K. acctbal ≥ −999.99 ⇒ cents ≥ −99_999 > −K. */
  private val Shift = 100000L

  val queries: Map[String, Q] = Map(
    // ---- near-dup clusters: LSH candidate pairs → components ----------
    // component id = min doc_id in the duplicate family (the canonical
    // survivor a dedup pass would keep). 6 fixed rounds ≥ the LSH-graph
    // diameter (2 bands ⇒ ≤ 2 buckets per doc); kept plan-pure so the
    // oracle can replay it.
    "q87_neardup_clusters" -> ((s, d) =>
      connectedComponentsFixed(TextOps.lshPairs(s, d), rounds = 6)
        .select(col("id").as("doc_id"), col("comp").as("component"))),

    // ---- dedup APPLY: clusters → keep-list -----------------------------
    // The step a curation pipeline actually ships: every document maps
    // to its duplicate family (docs outside any LSH pair are their own
    // singleton family), the canonical survivor is the min doc_id, and
    // the output is one row per SURVIVOR with how much the dedup pass
    // dropped. Corpus-side work is one left join against the (tiny)
    // component map + one groupBy — no per-family driver logic, so the
    // keep-list materializes at corpus scale.
    "q98_dedup_apply" -> ((s, d) => {
      val comp = connectedComponentsFixed(TextOps.lshPairs(s, d), rounds = 6)
        .withColumnRenamed("id", "doc_id")
      table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left_outer")
        .withColumn("component", coalesce(col("comp"), col("doc_id")))
        .groupBy("component")
        .agg(count(lit(1)).as("family_size"),
          max(when(col("doc_id") === col("component"), col("n_chars")))
            .cast("long").as("n_chars_kept"),
          sum(when(col("doc_id") =!= col("component"), col("n_chars"))
            .otherwise(0)).cast("long").as("n_chars_dropped"))
        .select(col("component").as("doc_id"), col("family_size"),
          col("n_chars_kept"), col("n_chars_dropped"))
    }),

    // ---- q146: missed-duplicate candidates (link prediction) -----------
    // Common-neighbor link prediction over the LSH candidate graph:
    // pairs that are NOT LSH candidates but share ≥1 neighbor are
    // likely duplicates the banding missed (two near-identical docs
    // can land in disjoint buckets while both colliding with a third).
    // The wedge join runs on the tiny candidate graph (never the
    // corpus) and is bounded by Σ deg² over bucket-capped degrees.
    // Every wedge pair is reported with its common-neighbor support
    // and whether LSH already pairs it — the `already_paired = false`
    // rows are the recall gap; feeding them through an exact verify
    // (q38-style) closes it without lowering the LSH threshold
    // corpus-wide.
    "q146_missed_neighbors" -> ((s, d) => {
      val e = TextOps.lshPairs(s, d).persist() // tiny; reused 2×
      val adj = e.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(
          e.select(col("b_id").as("src"), col("a_id").as("dst")))
      val cand = adj.select(col("src").as("mid"), col("dst").as("a_id"))
        .join(adj.select(col("src").as("mid"), col("dst").as("b_id")),
          "mid")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("common_neighbors"))
      cand.join(e.withColumn("already_paired", lit(true)),
          Seq("a_id", "b_id"), "left_outer")
        .withColumn("already_paired",
          coalesce(col("already_paired"), lit(false)))
    }),

    // ---- q139: canonical selection by quality --------------------------
    // The realistic dedup keep-policy: within each duplicate family,
    // keep the HIGHEST-QUALITY document (type-token ratio, doc_id
    // tie-break), not the arbitrary min-id that q98 demonstrates.
    // Corpus-side work is one scoring pass + one left join against the
    // (tiny) component map + one per-family rank; the window partitions
    // by family, whose size is bounded by the LSH bucket cap.
    "q139_canonical_pick" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val comp = connectedComponentsFixed(TextOps.lshPairs(s, d), rounds = 6)
        .withColumnRenamed("id", "doc_id")
      val scored = table(s, d, "documents")
        .withColumn("t", words(col("text")))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"),
          expr("""(cast(size(array_distinct(t)) as bigint) * 1000000)
                  div size(t)""").as("ttr_ppm"))
      // Split the corpus at the component membership boundary: only
      // docs inside a dup component need the per-family rank window
      // (candidate-bounded work); every other doc is its own family
      // with rn=1/n_docs=1 by definition — a map-only filter with NO
      // window, so the corpus never shuffles on `family`. One corpus
      // pass: the scored+membership frame (3 narrow columns, text
      // dropped) is persisted once for its two consumers; comp is the
      // near-dup population (small vs corpus) — AQE broadcasts it.
      val fam = scored.join(comp, Seq("doc_id"), "left_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy("family")
        .orderBy(col("ttr_ppm").desc, col("doc_id"))
      val dupPicks = fam.filter(col("comp").isNotNull)
        .withColumn("family", col("comp"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_docs",
          count(lit(1)).over(Window.partitionBy("family")))
        .filter(col("rn") === 1)
        .select(col("family").as("family_id"), col("doc_id").as("keep_doc"),
          col("ttr_ppm").as("keep_ttr"), col("n_docs"))
      val singles = fam.filter(col("comp").isNull)
        .select(col("doc_id").as("family_id"), col("doc_id").as("keep_doc"),
          col("ttr_ppm").as("keep_ttr"), lit(1L).as("n_docs"))
      dupPicks.unionByName(singles)
    }),

    // ---- q136: near-dup graph quality audit ----------------------------
    // Degree + triangle count + clustering coefficient per node of the
    // LSH candidate graph. A healthy near-dup graph is clique-like
    // (duplicate families are mutual), so LOW clustering coefficients
    // flag suspect edges — hash-collision bridges between unrelated
    // docs — before the dedup pass erases documents. Triangles are
    // enumerated once each on the oriented (a < b) edge list with the
    // standard two-join; all stages key on doc ids, and the edge list
    // is candidate pairs (bounded by the LSH bucket cap), never the
    // corpus, so the whole audit is a tiny sidecar job at any scale.
    "q136_dup_graph_stats" -> ((s, d) => {
      val e = TextOps.lshPairs(s, d).persist() // tiny; reused 3×
      val deg = e.select(explode(array(col("a_id"), col("b_id")))
          .as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      val tri = e
        .join(e.select(col("a_id").as("b_id"), col("b_id").as("c_id")),
          "b_id")
        .join(e.select(col("a_id"), col("b_id").as("c_id")),
          Seq("a_id", "c_id"))
        .select(explode(array(col("a_id"), col("b_id"), col("c_id")))
          .as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      deg.join(tri, Seq("doc_id"), "left_outer")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("cc_ppm", expr(
          """case when degree >= 2
             then (2000000 * n_tri) div (degree * (degree - 1))
             else cast(0 as bigint) end"""))
        .select("doc_id", "degree", "n_tri", "cc_ppm")
    }),

    // ---- q390: 2-hop reachability, exact vs KMV sketch ------------------
    // q390 reachability profile with a KMV audit: exact |N<=2(v)| for a
    // fixed seed cohort next to the KMV (bottom-k-by-hash) estimate a
    // HyperBall-style run would keep per node — the exact side is the
    // audit, the sketch side is the 100 TB plan (k·|V| state instead of
    // the full frontier closure).
    // Seed cohort: the even customer nodes below 400 (custkeys 1..199,
    // ~200 seeds — fixed at any corpus scale). Exact side: two bounded frontier joins + distinct
    // (the q187 shape, unrolled). Sketch side: per seed the 4 smallest
    // 60-bit hashes of reached ids — mergeable O(k) state per node, the
    // HyperBall posture — with est = (k-1)·2^60 div h4 and its error
    // against the exact count in ppm. Top-20 seeds by reach.
    "q390_reach_kmv" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // cache the half-size eo; the symmetrized edge list is a map-only
      // projection per consumer (see the q194 round-7 plan-audit note)
      val eoM = eo
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = edges.filter(col("src") % 2 === 0 && col("src") < 400)
        .select(col("src").as("id")).distinct()
      val hop1 = edges
        .join(seeds.select(col("id").as("src")), "src")
        .select(col("src").as("id"), col("dst").as("r"))
      val hop2 = hop1.select(col("id"), col("r").as("src"))
        .join(edges, "src")
        .select(col("id"), col("dst").as("r"))
      val reach = hop1.unionByName(hop2)
        .filter(col("r") =!= col("id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = reach.groupBy("id").agg(count(lit(1)).as("n_reach"))
      val hv = reach.select(col("id"),
        expr("""CAST(conv(substring(md5(CAST(r AS STRING)), 1, 15),
               16, 10) AS BIGINT)""").as("hv"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("id").orderBy("hv")
      val h4 = hv.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 4)
        .select(col("id"), col("hv").as("h4"))
      exact.join(h4, "id") // nodes with >= 4 reached ids carry a sketch
        .withColumn("kmv_est",
          expr(s"(3 * ${1L << 60}) div h4"))
        .withColumn("err_ppm",
          expr("abs(kmv_est - n_reach) * 1000000 div n_reach"))
        .select(col("id"), col("n_reach"), col("kmv_est"), col("err_ppm"))
        .orderBy(col("n_reach").desc, col("id").asc)
        .limit(20)
    }),

    // ---- q187: multi-source BFS shortest hops --------------------------
    // q187 multi-source BFS hops: frontier-at-a-time breadth-first
    // search as bounded relational rounds (join frontier→neighbors,
    // anti-join out settled nodes) — the iterative-graph shape that
    // PageRank (q119) and hash-min CC (q84 cluster pass) also use.
    // Same customer(2k)/supplier(2k+1) trade graph as q119; seeds are
    // customers 0–4. Frontier-at-a-time BFS: each round joins the
    // frontier to the edge list (shuffle on src — the scalable direction;
    // the frontier is NOT broadcast because at real scale it grows to a
    // large share of the graph by round 2), dedups the neighbor set, and
    // anti-joins out already-settled nodes; only the NEW nodes carry
    // into the next round, so total work is O(|E|·rounds) and each
    // node/edge is touched a bounded number of times. Monotonicity of
    // min-hops makes this exactly equal to the oracle's unrolled
    // min-distance closure. Output: nodes per hop count, hops 0–3.
    "q187_bfs_hops" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // half-size eo is the cached frame; the symmetrized edge list is
      // a map-only projection of it per consumer (caching post-explode
      // re-plans the join+distinct subtree once per explode branch
      // inside the InMemoryRelation — the round-7 q194 plan audit
      // caught lineitem⋈orders running twice; same fix here)
      val eoM = materialized(eo)
      val edges = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seed = materialized(edges
        .filter(col("src") % 2 === 0 && col("src") < 10)
        .select(col("src").as("id")).distinct()
        .withColumn("hop", lit(0L)))
      // Loop state is BOTH frames — Seq(frontier, settled) — so the
      // settled union rides GraphIter's checkpoint/release discipline
      // with the frontier (EagerHead: each round's fresh set has TWO
      // consumers — the settled union and the next anti-join — so it
      // must materialize before either reads it; the union itself is a
      // cache-concat and persists lazily, r11). A closure-var
      // settled (the pre-round-7 shape) grew a lazy union chain whose
      // leaves were the per-round caches: once rounds exceed
      // checkpointEvery, those leaves are localCheckpoint blocks the
      // driver has RELEASED — unrecomputable — so the terminal action
      // would fail at depth. In-state, settled is checkpointed and
      // re-leafed together with the frontier (GraphIterSpec pins the
      // depth-12 case).
      val fin = GraphIter.run(Seq(seed, seed), 3, 8, GraphIter.EagerHead) {
        case (Seq(frontier, settled), k) =>
          val fresh = edges
            .join(frontier.select(col("id").as("src")), "src")
            .select(col("dst").as("id")).distinct()
            .join(settled, Seq("id"), "left_anti")
            .withColumn("hop", lit(k.toLong))
          Seq(fresh, settled.union(fresh))
      }
      fin(1).groupBy("hop").agg(count(lit(1)).as("n_nodes"))
    }),

    // ---- q194: label propagation communities ---------------------------
    // q194 label propagation: semi-synchronous LPA communities on the
    // trade graph (Raghavan et al., 2007) — each round one edge⋈label
    // join, a (node, label) count, and a per-node argmax window with
    // deterministic ties. The same bounded-iterative shape as q119
    // PageRank and q187 BFS, completing the graph family.
    // Labels start as node ids; per round every node adopts its
    // neighbors' most frequent label (ties -> smallest label), computed
    // as edge⋈label join + (node, label) count + per-node rank-1
    // window. Two synchronous rounds (unrolled for the oracle; a
    // production run iterates to stability with the same round body,
    // checkpointing like q119). Nodes with no neighbors keep their
    // label — impossible here since the edge list defines the node
    // set. Output: the 20 largest communities (size desc, label asc).
    "q194_label_propagation" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // Materialize the HALF-SIZE directed pair set and derive the
      // symmetrized edge list map-only per consumer: caching edges
      // AFTER the explode re-plans the join+distinct subtree once per
      // explode branch inside the cached build (exchange reuse does
      // not fire inside an InMemoryRelation's physical plan — the
      // round-7 plan audit caught lineitem⋈orders running twice), and
      // doubles the cached bytes for rows that are a pure projection
      // of eo. Released at the harness boundary
      // (GraftSession.releaseQueryCaches).
      val eoM = materialized(eo)
      val edges = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // Round 1 collapses algebraically: labels start as node ids and
      // the symmetrized edge list is DISTINCT, so every neighbor casts
      // exactly one vote for its own id — all counts tie at 1 and the
      // winner is simply min(neighbor id). One groupBy replaces the
      // round's join + vote count (the general body below computes the
      // identical result, just slower).
      val labels0 = edges.groupBy(col("dst").as("id"))
        .agg(min("src").as("label"))
      // General round body, driven by GraphIter in Chain mode: each
      // round has exactly ONE consumer, so rounds fuse lazily into a
      // single AQE-planned job with no per-round materialization; at
      // real depth GraphIter's periodic localCheckpoint bounds the
      // plan (the unrolled-2 oracle never reaches a checkpoint). The
      // per-node argmax is ONE aggregate — max of (cnt, -label) picks
      // the most frequent label with min-label ties — so each round
      // costs the (node, label) vote count plus a map-side-combinable
      // reduce, never a rank sort.
      val labels = GraphIter.run(labels0, 1, 8, GraphIter.Chain) {
        (lbl, _) =>
          edges
            .join(lbl.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id"), col("label"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy("id")
            .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
            .select(col("id"), (-col("m.nl")).as("label"))
      }
      labels.groupBy("label").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("label").asc).limit(20)
    }),

    // ---- q199: k-core peel (bounded rounds) ----------------------------
    // q199 k-core peel: bounded rounds of degree-threshold peeling on
    // the customer–supplier trade graph — the graph-curation primitive
    // for trimming weakly-connected spam clusters before link analysis.
    // Same undirected customer(2k)/supplier(2k+1) trade graph as
    // q187/q119. K self-calibrates to half the average degree (integer
    // div — scale-free, engine-exact), then 3 peel rounds: drop nodes
    // with degree < K, restrict edges to survivors, repeat. Each round
    // is one groupBy(src) + two key joins — O(|E|) per round, the same
    // bounded-iteration shape as BFS/LPA; reaching a fixed point early
    // just makes the remaining rounds no-ops (that IS the k-core).
    // Driver-side state is 2 counts per round — bounded, like the CC
    // convergence probes.
    "q199_kcore_peel" -> ((s, d) => {
      import s.implicits._
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // half-size eo is the cached frame; the symmetrized edge list is
      // a map-only projection of it per consumer (caching post-explode
      // re-plans the join+distinct subtree once per explode branch
      // inside the InMemoryRelation — the round-7 q194 plan audit
      // caught lineitem⋈orders running twice; same fix here)
      val eoM = materialized(eo)
      val edges = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val k = edges
        .agg(expr("count(1) div (2 * count(distinct src))")).head.getLong(0)
      // Peeling is monotone (each round's survivor set is nested in the
      // previous round's), so equal consecutive (n_nodes, n_edges) means
      // the fixed point — the k-core — is reached and the remaining
      // rounds are provably identical: emit them without recomputing.
      // GraphIter drives the rounds in Chain mode — the step manages
      // its own materialization because per-round stats (counts) feed
      // the driver-side fixed-point shortcut, and each superseded edge
      // frame is released the moment its successor is counted; at real
      // depth GraphIter's periodic localCheckpoint bounds lineage.
      var last: Option[(Long, Long)] = None
      var fixed = false
      val buf = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
      GraphIter.run(edges, 3, 8, GraphIter.Chain) { (cur, r) =>
        if (fixed) { buf += ((r.toLong, last.get._1, last.get._2)); cur }
        else {
          // persist + count INLINE so each frame's materializing count
          // doubles as its stat — the former materialized()-then-
          // count() shape ran 4 jobs per round for 2 numbers (r11)
          val keep = cur
            .groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k)
            .select(col("src").as("id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nKeep = keep.count()
          val next = cur
            .join(keep.select(col("id").as("src")), "src")
            .join(keep.select(col("id").as("dst")), "dst")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nEdges = next.count()
          cur.unpersist()
          val stats = (nKeep, nEdges)
          keep.unpersist()
          fixed = last.contains(stats)
          last = Some(stats)
          buf += ((r.toLong, stats._1, stats._2))
          next
        }
      }
      buf.toSeq.toDF("round", "n_nodes", "n_edges")
    }),

    // ---- q215: 2-hop neighbor feature aggregation ----------------------
    // q215 2-hop neighbor feature aggregation (the GraphSAGE-style
    // message-passing primitive): floor-mean of neighbor features,
    // then floor-mean of THOSE over the second hop — all exact
    // integer arithmetic via a non-negativity shift.
    // The message-passing step a GNN feature pipeline runs at corpus
    // scale: hop 1 aggregates each customer's neighbor-supplier balance
    // (floor-mean, exact integers); hop 2 aggregates those customer
    // summaries back onto each supplier. Two equi-joins on the edge
    // list, each followed by a map-side-combined aggregation on the
    // destination key — the same bounded-rounds shape as PageRank
    // (q119) and BFS (q187), but carrying a FEATURE, not a rank. The
    // floor-mean rides the non-negativity shift so Spark's truncating
    // `div` and DuckDB's `//` agree on negative balances.
    "q215_gnn_2hop" -> ((s, d) => {
      val edges = tradeEdges(s, d)
      val feat = table(s, d, "supplier")
        .select(col("s_suppkey").as("supp"),
          expr("CAST(floor(s_acctbal * 100) AS BIGINT)").as("cents"))
      val h1 = edges.join(feat, "supp")
        .groupBy("cust")
        .agg(sum("cents").as("ssum"), count(lit(1)).as("n1"))
        .select(col("cust"),
          (expr(s"(ssum + n1 * ${Shift}L) div n1") - Shift).as("h1"))
      edges.join(h1, "cust")
        .groupBy("supp")
        .agg(sum("h1").as("hsum"), count(lit(1)).as("n2"))
        .select(col("supp"), col("n2"),
          (expr(s"(hsum + n2 * ${Shift}L) div n2") - Shift).as("h2"))
    }),

    // ---- q216: deterministic negative-edge sampling --------------------
    // q216 deterministic negative-edge sampling for link-prediction /
    // contrastive training: per-node hash-generated candidates minus
    // the real edge set.
    // Five hash-generated candidate suppliers per customer, minus the
    // edges that actually exist — the negative pairs a link-prediction
    // or contrastive objective trains against. The generator is pure
    // map-side codegen (md5 of customer#slot mod |suppliers|, the
    // corpus scalar riding one broadcast); the only shuffle is the
    // LEFT ANTI hash join against the real edge set on (cust, supp) —
    // at 100 TB that is one key-partitioned pass over the edge list,
    // never a per-candidate lookup. Deterministic: same corpus, same
    // negatives, any partitioning.
    "q216_negative_edges" -> ((s, d) => {
      val nSupp = table(s, d, "supplier")
        .agg(count(lit(1)).as("n_supp"))
      val cands = table(s, d, "customer")
        .select(col("c_custkey").as("cust"))
        .crossJoin(broadcast(nSupp))
        .select(col("cust"), explode(sequence(lit(0), lit(4))).as("slot"),
          col("n_supp"))
        .withColumn("cand",
          conv(substring(md5(concat(col("cust").cast("string"), lit("#"),
            col("slot").cast("string"))), 1, 13), 16, 10).cast("long")
            % col("n_supp") + 1)
      // Raw (cust, supp) pairs, NOT tradeEdges: a LEFT ANTI join is
      // insensitive to right-side duplicates, so the whole-corpus
      // DISTINCT exchange tradeEdges pays is pure overhead here (guide
      // §2.4: remove shuffles outright). Result identical — NOT EXISTS
      // semantics either way.
      val edges = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      cands.join(edges,
          cands("cust") === edges("cust") && cands("cand") === edges("supp"),
          "left_anti")
        .select(col("cust"), col("slot").cast("long").as("slot"), col("cand"))
    }),

    // ---- q240: deterministic random-walk corpus ------------------------
    // q240 deterministic random-walk corpus (DeepWalk/node2vec input):
    // one length-3 walk per customer node over the bidirectional
    // trade graph, next-hop chosen by a hash of (walk, step) modulo
    // the node's degree — RNG-free, so the corpus is bit-identical
    // under any partitioning and any engine.
    // The scalable walk engine shape: materialize the INDEXED adjacency
    // once (row_number within each node's neighbor list — a window
    // PARTITIONED on the node, cost bounded by the degree), then each
    // walk step is ONE equi-join on (current node, picked index).
    // No neighbor arrays are ever collected (a hub node's array would
    // blow a row), no RNG state exists (the pick is md5(walk·10+step)
    // mod degree), and walks shuffle by their current node each round —
    // exactly how a 1000-executor walk generator balances hubs. Three
    // steps = three bounded rounds; every node has degree ≥ 1 by
    // bidirectional construction, so walks never strand.
    "q240_random_walks" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      // Distinct BEFORE symmetrizing: customers are even ids and
      // suppliers odd, so (a,b) and (b,a) can never collide and the
      // exploded frame needs no second dedup — the distinct shuffle
      // runs on half the rows.
      val edges = eo.distinct()
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // deg feeds 4 consumers (w0 + 3 steps) and adjR feeds 3 — eager
      // persists so each is computed ONCE; without them every step's
      // plan re-derives the lineitem⋈orders+distinct+window chain
      // (exchange reuse does not span the persisted-walk boundary
      // downstream consumers like q241 introduce). Released at the
      // harness boundary — the GraftSession.releaseQueryCaches
      // cache-lifetime contract — since the caller's terminal action
      // runs after this builder returns.
      val deg = materialized(
        edges.groupBy("src").agg(count(lit(1)).as("degree")))
      val adjR = materialized(edges.withColumn("a_idx",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
        .select(col("src").as("a_src"), col("a_idx"),
          col("dst").as("nxt")))
      // The walk frame is NODE-sized (one walk per customer), so it is
      // never force-broadcast; the shuffle_hash hint makes it the
      // per-partition-bounded BUILD side against the edge-sized
      // adjacency — without it the first round planned a sort-merge
      // join that sorted the full adjacency (the q119 discipline:
      // forbid the driver-sized build, bound the executor-sized one).
      def step(w: DataFrame, t: Int): DataFrame =
        w.join(deg.withColumnRenamed("src", "d_src"),
            col("cur") === col("d_src"))
          .withColumn("pick", expr(
            s"CAST(conv(substring(md5(CAST(walk_id * 10 + $t" +
              s" AS STRING)), 1, 13), 16, 10) AS BIGINT) % degree"))
          .hint("shuffle_hash")
          .join(adjR, col("cur") === col("a_src") &&
            col("pick") === col("a_idx"))
          .drop("d_src", "degree", "pick", "a_src", "a_idx", "cur")
          .withColumnRenamed("nxt", "cur")
      val w0 = deg.filter(col("src") % 2 === 0)
        .select(col("src").as("walk_id"), col("src").as("cur"))
      val s1 = step(w0, 1).withColumnRenamed("cur", "n1")
        .withColumn("cur", col("n1"))
      val s2 = step(s1, 2).withColumnRenamed("cur", "n2")
        .withColumn("cur", col("n2"))
      val s3 = step(s2, 3).withColumnRenamed("cur", "n3")
      s3.select("walk_id", "n1", "n2", "n3")
    }),

    // The skip-gram training-pair stage that consumes
    // q240's walk corpus — together they are the full DeepWalk data
    // pipeline (walks → windowed pairs → negatives), every stage
    // deterministic and oracle-checkable.

    // ---- q241: skip-gram pairs + hash negative sampling ----------------
    // From each 4-node walk sequence, every (center, context) pair
    // within window ±2 — generated by PER-ROW array lambdas (zero
    // shuffle for pair expansion), the shape that turns a 100 TB walk
    // corpus into SGNS training pairs as a map-only job. Each pair
    // gets one negative drawn by hash over the INDEXED vocabulary
    // (row_number over node ids here; at corpus scale the index comes
    // from the two-phase distributed rank — q93's orderedCumsum —
    // with identical output, so the global window below is a
    // gate-scale convenience, not the plan). The negative join is a
    // broadcast at this vocab size, a plain hash join at billions of
    // nodes.
    "q241_skipgram_pairs" -> ((s, d) => {
      // The walk corpus has FIVE consumers below (pair expansion +
      // vocab + its count); persist it eagerly or the whole q240 walk
      // pipeline re-executes per consumer (measured ~2× on the full
      // query at sf0.1). Released at the harness boundary per the
      // GraftSession.releaseQueryCaches cache-lifetime contract.
      val walks = queries("q240_random_walks")(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      walks.count()
      val seqs = walks.select(col("walk_id"),
        array(col("walk_id"), col("n1"), col("n2"), col("n3")).as("seq"))
      val pairs = seqs.select(col("walk_id"), explode(expr(
        """flatten(transform(sequence(0, 3), i ->
             transform(filter(sequence(greatest(0, i - 2),
                 least(3, i + 2)), j -> j != i),
               j -> struct(i AS ci, j AS cj, seq[i] AS center,
                 seq[j] AS context))))""")).as("p"))
        .select(col("walk_id"), col("p.ci").cast("long").as("ci"),
          col("p.cj").cast("long").as("cj"), col("p.center"),
          col("p.context"))
      // One explode pass over the cached walks instead of four scans.
      val vocab = walks.select(explode(array(col("walk_id"), col("n1"),
          col("n2"), col("n3"))).as("node"))
        .distinct()
        .withColumn("vidx",
          row_number().over(Window.orderBy("node")) - 1)
      val nv = vocab.agg(count(lit(1)).as("n_vocab"))
      pairs.crossJoin(broadcast(nv))
        .withColumn("nidx", expr(
          "CAST(conv(substring(md5(CAST(walk_id * 100 + ci * 10 + cj" +
            " AS STRING)), 1, 13), 16, 10) AS BIGINT) % n_vocab"))
        .join(broadcast(vocab), col("nidx") === col("vidx"))
        .select(col("walk_id"), col("ci"), col("cj"), col("center"),
          col("context"), col("node").as("negative"))
    }),

    // ---- q256: personalized PageRank from a seed cohort -----------------
    // q256 personalized PageRank: random-walk-with-restart relevance
    // from a seed set (one market segment's customers) over the
    // customer–supplier bipartite graph — "which suppliers matter to
    // THIS cohort", vs q119's global importance.
    // Same bipartite graph, loop shape, and integer arithmetic as
    // q119 (edges+degrees materialized once, shuffle_hash-hinted rank
    // side — NO compulsory broadcast: the reached set approaches |V|
    // by round 3, and a forced broadcast of a node-sized frame would
    // bypass AQE's size check and hit the driver wall at scale;
    // edges are already keyed on src so the hash build stays
    // per-partition-bounded) — but teleport mass restarts ONLY
    // at the BUILDING-segment customers, so rank measures proximity
    // to that cohort. The rank frame stays SPARSE: it carries only
    // reached nodes (seeds ∪ inflow), so early iterations move a
    // seed-sized frame, not the node set. Mass in micro-micro units
    // (1e12 total) keeps three rounds of integer division exact
    // enough that ranks stay well separated; seeds.count() is a
    // 1-row driver scalar (documented, bounded). The full-outer with
    // the seed list implements "+ 0.15·e_s" sparsely.
    "q256_personalized_pagerank" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // half-size eo is the cached frame; the symmetrized edge list is
      // a map-only projection of it per consumer (caching post-explode
      // re-plans the join+distinct subtree once per explode branch
      // inside the InMemoryRelation — the round-7 q194 plan audit
      // caught lineitem⋈orders running twice; same fix here)
      val eoM = materialized(eo)
      val edges0 = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val deg = materialized(
        edges0.groupBy("src").agg(count(lit(1)).as("deg")))
      val seeds = materialized(table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") * 2).as("id")))
      val nSeeds = seeds.count()
      val t = 1000000000000L / nSeeds
      val bonus = t * 15 / 100
      val rank0 = seeds.select(col("id"), lit(t).as("r"))
      val rank = GraphIter.run(rank0, 3, 8, GraphIter.Lazy) { (rank, _) =>
        val divided = rank.join(deg, rank("id") === deg("src"))
          .select(col("src"), expr("r div deg").as("share"))
        val inflow = edges0.join(divided.hint("shuffle_hash"), "src")
          .groupBy("dst").agg(sum("share").as("m"))
          .select(col("dst").as("id"), col("m"))
        inflow
          .join(seeds.withColumn("is_seed", lit(1L)), Seq("id"), "full_outer")
          .select(col("id"),
            (expr("coalesce(m, 0L) * 85 div 100") +
              when(col("is_seed").isNotNull, lit(bonus))
                .otherwise(lit(0L))).as("r"))
      }
      rank.filter(col("r") > 0)
        .orderBy(col("r").desc, col("id").asc).limit(20)
        .select(concat(
          when(col("id") % 2 === 0, lit("c")).otherwise(lit("s")),
          expr("id div 2")).as("id"), col("r"))
    }),

    // Seeded harmonic centrality — the "how reachable is
    // everyone from our anchor accounts" readout. Multi-source BFS over
    // the customer–supplier interaction graph (q187's bipartite edges)
    // carrying SEED IDENTITY through the frontier, so each (seed, node)
    // pair settles at its exact minimum hop; harmonic score
    // Σ_seeds 1e6 div hop rewards being close to MANY seeds. Bounded
    // rounds via the shared GraphIter driver (periodic localCheckpoint,
    // superseded-block release).

    // ---- q339: harmonic centrality from the anchor seeds ---------------
    // Frontier state is (seed, id): the per-seed BFS runs fan out in
    // ONE set of joins (shuffle on src, the scalable direction — the
    // frontier is never broadcast); per-seed settled sets anti-join
    // exactly as q187 does for one source. 3 hops from the 5 anchor
    // customers; harmonic_micro = Σ 1e6 div hop over reached seeds;
    // top-20 nodes by (score desc, id) via TakeOrdered. Work is
    // O(|E|·rounds·|seeds-reached-overlap|) with every frame keyed —
    // the multi-source trick that costs one BFS, not |seeds|.
    "q339_harmonic_centrality" -> ((s, d) => {
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // half-size eo is the cached frame; the symmetrized edge list is
      // a map-only projection of it per consumer (caching post-explode
      // re-plans the join+distinct subtree once per explode branch
      // inside the InMemoryRelation — the round-7 q194 plan audit
      // caught lineitem⋈orders running twice; same fix here)
      val eoM = materialized(eo)
      val edges = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seed = materialized(edges
        .filter(col("src") % 2 === 0 && col("src") < 10)
        .select(col("src").as("seed"), col("src").as("id")).distinct()
        .withColumn("hop", lit(0L)))
      // settled rides GraphIter state (second frame) so the union is
      // checkpointed and re-leafed with the frontier — a closure var
      // would reference released localCheckpoint blocks past
      // checkpointEvery rounds (see the q187 comment; GraphIterSpec
      // runs this exact harmonic body 12 rounds deep with O(1) plans).
      val fin = GraphIter.run(Seq(seed, seed), 3, 8, GraphIter.EagerHead) {
        case (Seq(frontier, settled), k) =>
          val fresh = edges
            .join(frontier.select(col("seed"), col("id").as("src")), "src")
            .select(col("seed"), col("dst").as("id")).distinct()
            .join(settled, Seq("seed", "id"), "left_anti")
            .withColumn("hop", lit(k.toLong))
          Seq(fresh, settled.union(fresh))
      }
      fin(1).filter(col("hop") > 0)
        .groupBy("id")
        .agg(count(lit(1)).as("n_seeds"),
          sum(expr("1000000 div hop")).as("harmonic_micro"))
        .orderBy(col("harmonic_micro").desc, col("id"))
        .limit(20)
    }))

  // Same LSH pair derivation as q37 (shared by the component and
  // triangle oracles below).
  private val pairsCte =
    """sigs AS (
           SELECT doc_id,
             md5(min(substr(md5(shingle), 1, 8))
                 || min(substr(md5(shingle), 9, 8))) AS b0,
             md5(min(substr(md5(shingle), 17, 8))
                 || min(substr(md5(shingle), 25, 8))) AS b1
           FROM (
             SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 2),
               i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' '))) AS shingle
             FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                   FROM documents)
             WHERE len(tokens) >= 3)
           GROUP BY doc_id),
         pairs AS (
           SELECT DISTINCT a_id, b_id FROM (
             SELECT l.doc_id AS a_id, r.doc_id AS b_id
             FROM sigs l JOIN sigs r ON l.b0 = r.b0 AND l.doc_id < r.doc_id
             UNION ALL
             SELECT l.doc_id AS a_id, r.doc_id AS b_id
             FROM sigs l JOIN sigs r ON l.b1 = r.b1 AND l.doc_id < r.doc_id))"""

  // Transitive closure over the pair graph via a recursive CTE:
  // component(id) = min id reachable from id.
  private val reachCte =
    s"""WITH RECURSIVE $pairsCte,
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION ALL SELECT b_id, a_id FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)"""

  /** One PPR iteration as SQL CTEs (rank table rIn → rOut). */
  private def pprStepSql(k: Int): String = {
    val (rIn, c, i, rOut) = (s"r${k - 1}", s"c$k", s"i$k", s"r$k")
    s"""$c AS (SELECT e.dst, r.r // d.deg AS share FROM edges e
           JOIN $rIn r ON r.id = e.src JOIN deg d ON d.src = e.src),
       $i AS (SELECT dst AS id, CAST(sum(share) AS BIGINT) AS m
              FROM $c GROUP BY dst),
       $rOut AS (SELECT COALESCE(i.id, s.id) AS id,
           CAST(COALESCE(i.m, 0) * 85 // 100 +
             CASE WHEN s.id IS NOT NULL
               THEN (1000000000000 // ns.n) * 15 // 100 ELSE 0 END
             AS BIGINT) AS r
         FROM $i i FULL OUTER JOIN seeds s ON i.id = s.id CROSS JOIN ns)"""
  }

  val oracle: Map[String, String] = Map(
    "q87_neardup_clusters" ->
      s"""$reachCte
         SELECT id AS doc_id, min(r) AS component
         FROM reach GROUP BY id""",

    "q98_dedup_apply" ->
      s"""$reachCte,
         comp AS (SELECT id AS doc_id, min(r) AS component
                  FROM reach GROUP BY id)
         SELECT coalesce(c.component, d.doc_id) AS doc_id,
                count(*) AS family_size,
                CAST(max(CASE WHEN d.doc_id = coalesce(c.component, d.doc_id)
                              THEN d.n_chars END) AS BIGINT) AS n_chars_kept,
                CAST(sum(CASE WHEN d.doc_id <> coalesce(c.component, d.doc_id)
                              THEN d.n_chars ELSE 0 END) AS BIGINT)
                  AS n_chars_dropped
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         GROUP BY coalesce(c.component, d.doc_id)""",

    "q146_missed_neighbors" ->
      s"""WITH $pairsCte,
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION ALL SELECT b_id, a_id FROM pairs),
         cand AS (
           SELECT x.dst AS a_id, y.dst AS b_id,
             count(*) AS common_neighbors
           FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst
           GROUP BY 1, 2)
         SELECT c.a_id, c.b_id, c.common_neighbors,
           EXISTS (SELECT 1 FROM pairs p
                   WHERE p.a_id = c.a_id AND p.b_id = c.b_id)
             AS already_paired
         FROM cand c""",

    "q139_canonical_pick" ->
      s"""$reachCte,
         comp AS (SELECT id AS doc_id, min(r) AS component
                  FROM reach GROUP BY id),
         scored AS (
           SELECT doc_id,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000000) // len(t)
               AS ttr_ppm
           FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '')
                     AS t
                 FROM documents)
           WHERE len(t) > 0),
         fam AS (
           SELECT s.doc_id, s.ttr_ppm,
             coalesce(c.component, s.doc_id) AS family
           FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id),
         ranked AS (
           SELECT fam.*,
             row_number() OVER (
               PARTITION BY family ORDER BY ttr_ppm DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY family) AS n_docs
           FROM fam)
         SELECT family AS family_id, doc_id AS keep_doc,
                ttr_ppm AS keep_ttr, n_docs
         FROM ranked WHERE rn = 1""",

    "q136_dup_graph_stats" ->
      s"""WITH $pairsCte,
         tri AS (
           SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
           FROM pairs e1
           JOIN pairs e2 ON e1.b_id = e2.a_id
           JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         tn AS (SELECT node, count(*) AS n_tri
                FROM (SELECT unnest([a, b, c]) AS node FROM tri)
                GROUP BY 1),
         dg AS (SELECT node, count(*) AS degree
                FROM (SELECT a_id AS node FROM pairs
                      UNION ALL SELECT b_id FROM pairs)
                GROUP BY 1)
         SELECT dg.node AS doc_id, dg.degree,
           CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(CASE WHEN dg.degree >= 2
                THEN (2000000 * coalesce(tn.n_tri, 0))
                     // (dg.degree * (dg.degree - 1))
                ELSE 0 END AS BIGINT) AS cc_ppm
         FROM dg LEFT JOIN tn ON dg.node = tn.node""",

    "q390_reach_kmv" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         seeds AS (
           SELECT DISTINCT src AS id FROM edges
           WHERE src % 2 = 0 AND src < 400),
         hop1 AS (
           SELECT s.id, e.dst AS r FROM seeds s
           JOIN edges e ON e.src = s.id),
         hop2 AS (
           SELECT h.id, e.dst AS r FROM hop1 h
           JOIN edges e ON e.src = h.r),
         reach AS (
           SELECT DISTINCT id, r FROM (
             SELECT id, r FROM hop1 UNION ALL SELECT id, r FROM hop2)
           WHERE r <> id),
         exact AS (
           SELECT id, count(*) AS n_reach FROM reach GROUP BY id),
         hv AS (
           SELECT id,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
           FROM reach),
         h4 AS (
           SELECT id, hv AS h4 FROM (
             SELECT id, hv, row_number() OVER (
               PARTITION BY id ORDER BY hv) AS rn
             FROM hv)
           WHERE rn = 4)
         SELECT e.id, CAST(e.n_reach AS BIGINT) AS n_reach,
           CAST((3 * 1152921504606846976) // h4 AS BIGINT) AS kmv_est,
           CAST(abs((3 * 1152921504606846976) // h4 - e.n_reach)
             * 1000000 // e.n_reach AS BIGINT) AS err_ppm
         FROM exact e JOIN h4 USING (id)
         ORDER BY n_reach DESC, id ASC
         LIMIT 20""",
    "q187_bfs_hops" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         d0 AS (SELECT DISTINCT src AS id FROM edges
                WHERE src % 2 = 0 AND src < 10),
         n1 AS (SELECT DISTINCT e.dst AS id FROM edges e
                JOIN d0 ON d0.id = e.src
                WHERE e.dst NOT IN (SELECT id FROM d0)),
         n2 AS (SELECT DISTINCT e.dst AS id FROM edges e
                JOIN n1 ON n1.id = e.src
                WHERE e.dst NOT IN (SELECT id FROM d0)
                  AND e.dst NOT IN (SELECT id FROM n1)),
         n3 AS (SELECT DISTINCT e.dst AS id FROM edges e
                JOIN n2 ON n2.id = e.src
                WHERE e.dst NOT IN (SELECT id FROM d0)
                  AND e.dst NOT IN (SELECT id FROM n1)
                  AND e.dst NOT IN (SELECT id FROM n2))
         SELECT hop, n_nodes FROM (
           SELECT CAST(0 AS BIGINT) AS hop,
                  CAST(count(*) AS BIGINT) AS n_nodes FROM d0
           UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM n1
           UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM n2
           UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM n3)
         WHERE n_nodes > 0""",
    "q194_label_propagation" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
         v1 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
                FROM edges e JOIN l0 l ON l.id = e.src
                GROUP BY e.dst, l.label),
         l1 AS (SELECT id, label FROM (
                  SELECT id, label, row_number() OVER (
                    PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
                  FROM v1) WHERE rn = 1),
         v2 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
                FROM edges e JOIN l1 l ON l.id = e.src
                GROUP BY e.dst, l.label),
         l2 AS (SELECT id, label FROM (
                  SELECT id, label, row_number() OVER (
                    PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
                  FROM v2) WHERE rn = 1)
         SELECT label, CAST(count(*) AS BIGINT) AS size
         FROM l2 GROUP BY label
         ORDER BY size DESC, label ASC LIMIT 20""",
    "q199_kcore_peel" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         kp AS (SELECT count(*) // (2 * count(DISTINCT src)) AS k
                FROM edges),
         deg0 AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
         keep1 AS (SELECT id FROM deg0, kp WHERE d >= k),
         e1 AS (SELECT e.src, e.dst FROM edges e
                JOIN keep1 a ON e.src = a.id JOIN keep1 b ON e.dst = b.id),
         deg1 AS (SELECT src AS id, count(*) AS d FROM e1 GROUP BY src),
         keep2 AS (SELECT id FROM deg1, kp WHERE d >= k),
         e2 AS (SELECT e.src, e.dst FROM e1 e
                JOIN keep2 a ON e.src = a.id JOIN keep2 b ON e.dst = b.id),
         deg2 AS (SELECT src AS id, count(*) AS d FROM e2 GROUP BY src),
         keep3 AS (SELECT id FROM deg2, kp WHERE d >= k),
         e3 AS (SELECT e.src, e.dst FROM e2 e
                JOIN keep3 a ON e.src = a.id JOIN keep3 b ON e.dst = b.id)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS round,
                  (SELECT CAST(count(*) AS BIGINT) FROM keep1) AS n_nodes,
                  (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges
           UNION ALL
           SELECT 2, (SELECT count(*) FROM keep2),
                  (SELECT count(*) FROM e2)
           UNION ALL
           SELECT 3, (SELECT count(*) FROM keep3),
                  (SELECT count(*) FROM e3))""",
    "q215_gnn_2hop" ->
      """WITH edges AS (
           SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         feat AS (
           SELECT s_suppkey AS supp,
                  CAST(floor(s_acctbal * 100) AS BIGINT) AS cents
           FROM supplier),
         h1 AS (
           SELECT cust,
                  (sum(cents) + count(*) * 100000) // count(*) - 100000
                    AS h1
           FROM edges JOIN feat USING (supp) GROUP BY cust)
         SELECT supp, CAST(count(*) AS BIGINT) AS n2,
                CAST((sum(h1) + count(*) * 100000) // count(*) - 100000
                  AS BIGINT) AS h2
         FROM edges JOIN h1 USING (cust) GROUP BY supp""",
    "q216_negative_edges" ->
      """WITH ns AS (SELECT count(*) AS n_supp FROM supplier),
         cands AS (
           SELECT c_custkey AS cust, slot,
                  CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                    || '#' || CAST(slot AS VARCHAR)), 1, 13)) AS BIGINT)
                    % n_supp + 1 AS cand
           FROM customer, ns,
                (SELECT unnest(range(5)) AS slot)),
         edges AS (
           SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT cust, CAST(slot AS BIGINT) AS slot, cand
         FROM cands
         WHERE NOT EXISTS (SELECT 1 FROM edges e
                           WHERE e.cust = cands.cust
                             AND e.supp = cands.cand)""",
    "q240_random_walks" ->
      """WITH eo AS (
           SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT a AS src, b AS dst FROM eo
             UNION ALL SELECT b AS src, a AS dst FROM eo)),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
         adj AS (
           SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY dst) - 1 AS idx
           FROM edges),
         w0 AS (
           SELECT src AS walk_id, src AS cur FROM deg WHERE src % 2 = 0),
         s1 AS (
           SELECT w.walk_id, a.dst AS cur FROM w0 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 1
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree),
         s2 AS (
           SELECT w.walk_id, a.dst AS cur FROM s1 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 2
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree),
         s3 AS (
           SELECT w.walk_id, a.dst AS cur FROM s2 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 3
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree)
         SELECT s1.walk_id, CAST(s1.cur AS BIGINT) AS n1,
                CAST(s2.cur AS BIGINT) AS n2,
                CAST(s3.cur AS BIGINT) AS n3
         FROM s1 JOIN s2 USING (walk_id) JOIN s3 USING (walk_id)""",
    "q241_skipgram_pairs" ->
      """WITH eo AS (
           SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (
           SELECT DISTINCT src, dst FROM (
             SELECT a AS src, b AS dst FROM eo
             UNION ALL SELECT b AS src, a AS dst FROM eo)),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
         adj AS (
           SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY dst) - 1 AS idx
           FROM edges),
         w0 AS (
           SELECT src AS walk_id, src AS cur FROM deg WHERE src % 2 = 0),
         s1 AS (
           SELECT w.walk_id, a.dst AS cur FROM w0 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 1
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree),
         s2 AS (
           SELECT w.walk_id, a.dst AS cur FROM s1 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 2
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree),
         s3 AS (
           SELECT w.walk_id, a.dst AS cur FROM s2 w
           JOIN deg dg ON w.cur = dg.src
           JOIN adj a ON a.src = w.cur AND a.idx =
             CAST(('0x' || substr(md5(CAST(w.walk_id * 10 + 3
               AS VARCHAR)), 1, 13)) AS BIGINT) % dg.degree),
         seqs AS (
           SELECT s1.walk_id, 0 AS pos, s1.walk_id AS node FROM s1
           UNION ALL SELECT walk_id, 1, cur FROM s1
           UNION ALL SELECT walk_id, 2, cur FROM s2
           UNION ALL SELECT walk_id, 3, cur FROM s3),
         pairs AS (
           SELECT a.walk_id, a.pos AS ci, b.pos AS cj,
                  a.node AS center, b.node AS context
           FROM seqs a JOIN seqs b ON a.walk_id = b.walk_id
           WHERE a.pos <> b.pos AND abs(a.pos - b.pos) <= 2),
         vocab AS (
           SELECT node, row_number() OVER (ORDER BY node) - 1 AS vidx
           FROM (SELECT DISTINCT node FROM seqs)),
         nv AS (SELECT count(*) AS n_vocab FROM vocab)
         SELECT p.walk_id, CAST(p.ci AS BIGINT) AS ci,
                CAST(p.cj AS BIGINT) AS cj, p.center, p.context,
                v.node AS negative
         FROM pairs p CROSS JOIN nv
         JOIN vocab v ON v.vidx =
           CAST(('0x' || substr(md5(CAST(p.walk_id * 100 + p.ci * 10
             + p.cj AS VARCHAR)), 1, 13)) AS BIGINT) % n_vocab""",

    "q256_personalized_pagerank" ->
      s"""WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         seeds AS (SELECT c_custkey * 2 AS id FROM customer
                   WHERE c_mktsegment = 'BUILDING'),
         ns AS (SELECT count(*) AS n FROM seeds),
         r0 AS (SELECT id, CAST(1000000000000 // n AS BIGINT) AS r
                FROM seeds CROSS JOIN ns),
         ${pprStepSql(1)},
         ${pprStepSql(2)},
         ${pprStepSql(3)}
         SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
                     ELSE 's' || CAST(id // 2 AS BIGINT) END AS id, r
         FROM (SELECT id, r FROM r3 WHERE r > 0
               ORDER BY r DESC, id ASC LIMIT 20)""",
    // Per-seed unrolled min-hop closure (the q187 oracle shape with
    // seed identity carried through every level).
    "q339_harmonic_centrality" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         d0 AS (SELECT DISTINCT src AS seed, src AS id FROM edges
                WHERE src % 2 = 0 AND src < 10),
         n1 AS (
           SELECT DISTINCT f.seed, e.dst AS id
           FROM d0 f JOIN edges e ON e.src = f.id
           WHERE e.dst <> f.seed),
         n2 AS (
           SELECT DISTINCT f.seed, e.dst AS id
           FROM n1 f JOIN edges e ON e.src = f.id
           LEFT JOIN n1 x ON x.seed = f.seed AND x.id = e.dst
           WHERE x.id IS NULL AND e.dst <> f.seed),
         n3 AS (
           SELECT DISTINCT f.seed, e.dst AS id
           FROM n2 f JOIN edges e ON e.src = f.id
           LEFT JOIN n1 x1 ON x1.seed = f.seed AND x1.id = e.dst
           LEFT JOIN n2 x2 ON x2.seed = f.seed AND x2.id = e.dst
           WHERE x1.id IS NULL AND x2.id IS NULL AND e.dst <> f.seed),
         reached AS (
           SELECT seed, id, 1 AS hop FROM n1
           UNION ALL SELECT seed, id, 2 FROM n2
           UNION ALL SELECT seed, id, 3 FROM n3)
         SELECT id, CAST(count(*) AS BIGINT) AS n_seeds,
           CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_micro
         FROM reached
         GROUP BY id
         ORDER BY harmonic_micro DESC, id
         LIMIT 20""")
}
