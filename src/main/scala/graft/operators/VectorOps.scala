package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Dot products / norms use the native codegen'd `array_dot` expression
  * (graft.functions.ArrayDot) — double-precision sequential
  * accumulation that matches DuckDB's `list_cosine_similarity`
  * bit-for-bit, so the oracle can hash-compare rounded similarities.
  *
  * Scale path: the brute-force top-k crossJoin broadcasts the (tiny) query
  * side, so at cluster scale it's a map-only pass over the big table
  * followed by a TakeOrdered — no shuffle of the embedding data.
  */
object VectorOps extends QueryModule {
  /** Sequential double dot product of two float arrays via the native
    * codegen'd ArrayDot expression (graft.functions) — bit-identical to
    * the `aggregate(zip_with(...))` formulation it replaces, minus the
    * per-row intermediate array and lambda evaluation. */
  private def dot(a: String, b: String): Column =
    expr(s"array_dot($a, $b)")

  private def norm(a: String): Column = sqrt(dot(a, a))

  private val Ks = Seq(2, 4, 6, 8, 10)

  /** Plane j's 64 signs; sign(i,j) = +1 iff md5("i:j")[0] < '8' (the
    * q112 hash-seeded plane recipe — same constants land as literals in
    * the DuckDB oracle). */
  private def planeSigns(j: Int): Seq[Float] =
    (0 until 64).map(i =>
      if (md5Hex(s"$i:$j").charAt(0) < '8') 1.0f else -1.0f)

  private def fdot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  private val NPlanes = 12 // enough bits for ~512k-vector corpora

  val queries: Map[String, Q] = lshQueries ++ Map(
    // ---- int8 embedding quantization -----------------------------------
    // The 4×-storage/bandwidth move every embedding store makes before
    // ANN at scale: per-vector symmetric int8 (scale = max|v|/127,
    // q_i = round(v_i/scale)), plus the reconstruction error the
    // recall budget is judged by. Pure per-row codegen'd array lambdas,
    // no shuffle. round-half-up is written floor(x + 0.5) so both
    // engines agree bit-for-bit; q_sum/q_l1 are integer-exact
    // checksums of the full quantized vector.
    "q96_int8_quant" -> ((s, d) => {
      table(s, d, "embeddings")
        .withColumn("mx", expr(
          """aggregate(embedding, CAST(0.0 AS DOUBLE),
             (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"""))
        .filter(col("mx") > 0)
        .withColumn("scale", col("mx") / lit(127.0))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale_r"),
          expr("""aggregate(embedding, CAST(0 AS BIGINT),
            (a, x) -> a + CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))""")
            .as("q_sum"),
          expr("""aggregate(embedding, CAST(0 AS BIGINT),
            (a, x) -> a + abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))""")
            .as("q_l1"),
          round(sqrt(expr(
            """aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) ->
               a + (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
                 * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))""")),
            6).as("recon_err"))
    }),

    // ---- full IVF probe: nearest centroid, then in-cell top-k ----------
    "q83_ivf_search" -> ivfSearch,

    // ---- learned IVF: 2 Lloyd iterations, DataFrame-only ----------------
    "q85_ivf_kmeans" -> ivfKmeans,

    // ---- learned-IVF ANN search: nprobe=2 over k-means cells ------------
    "q86_ivf_kmeans_search" -> ivfKmeansSearch,

    // ---- product-quantization ANN: PQ codes + ADC search ----------------
    "q92_pq_search" -> pqSearch,

    // ---- LSH-candidate near-dup: the 100 TB flagship near-dup path ------
    // Candidate pairs come from the random-hyperplane LSH bucket (one
    // map-side pass), exact cosine runs ONLY inside buckets — pair count
    // is bounded by bucket size (n/2^bits expected), not by any
    // fixed-cardinality block that grows linearly with the corpus the
    // way q42's label blocking does. q42 stays as the small-scale exact
    // oracle; this is the plan you run at scale.
    "q84_lsh_neardup" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
        .withColumn("bucket", expr(lshBucket))
        .select(col("bucket"), col("vec_id"), col("embedding"),
          norm("embedding").as("nrm"))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
      val b = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
      a.join(b, "bucket").filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(dot("a_vec", "b_vec") / (col("a_nrm") * col("b_nrm")), 6)
            .as("cosine"))
        .filter(col("cosine") > 0.3)
    }),

    // ---- SemDeDup: semantic dedup over learned k-means cells -----------
    // The cluster-then-prune semantic dedup pass (Abbas et al. 2023,
    // arXiv:2303.09540): k-means the embedding space, then compare
    // ONLY within a cell and drop every vector that has a
    // lower-id near-duplicate there (keep-lowest-id is the
    // deterministic stand-in for the paper's keep-one rule). Reuses
    // the q85 2-Lloyd-round index, so Spark's cache manager shares
    // one k-means run across q85/q86/q147 in the same session. The
    // pair stage is bounded by cell size — at corpus scale k grows
    // ∝ n so cells stay constant-size (the paper runs 50k clusters
    // on 5B embeddings) and the per-cell all-pairs never sees the
    // corpus quadratically; the τ here is tuned to the synthetic
    // near-uniform embeddings (real deployments use ~0.95+ on the
    // centroid-normalized similarity).
    "q147_semdedup" -> ((s0, d) => {
      val s = withFns(s0)
      val (a2, _) = kmeansIndex(s, d)
      val e = a2.select(col("cid"), col("vec_id"), col("v"),
        sqrt(dotD("v", "v")).as("nrm"))
      val a = e.select(col("cid"), col("vec_id").as("a_id"),
        col("v").as("av"), col("nrm").as("a_nrm"))
      val b = e.select(col("cid"), col("vec_id").as("b_id"),
        col("v").as("bv"), col("nrm").as("b_nrm"))
      a.join(b, "cid").filter(col("a_id") > col("b_id"))
        .select(col("cid"), col("a_id"), col("b_id"),
          round(dotD("av", "bv") / (col("a_nrm") * col("b_nrm")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.3)
        .groupBy("cid", "a_id")
        .agg(min("b_id").as("keeper_id"), max("cos_r").as("cos_max"))
        .select(col("a_id").as("vec_id"), col("cid"),
          col("keeper_id"), col("cos_max"))
    }),

    // ---- mutual-kNN pairs: the symmetric near-dup graph ----------------
    // A pair survives only if each vector ranks the other in its top-3
    // by cosine — reciprocity is the classic filter that strips hub
    // vectors (one generic embedding near everything) out of the dup
    // graph before clustering. Candidates here are label blocks (the
    // sf-scale exact oracle, like q42); at corpus scale swap the
    // candidate stage for q49's LSH buckets or q86's IVF cells — the
    // rank + reciprocity stages shuffle only (a_id, b_id, cos) rows
    // keyed by vec id and are unchanged by the candidate source.
    "q137_mutual_knn" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"),
          norm("embedding").as("nrm"))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
      val p = a.join(b, "label").filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(dot("a_vec", "b_vec") / (col("a_nrm") * col("b_nrm")), 6)
            .as("cos_r"))
      val w = Window.partitionBy("a_id")
        .orderBy(col("cos_r").desc, col("b_id"))
      val knn = p.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("a_id", "b_id", "cos_r").persist()
      knn.filter(col("a_id") < col("b_id"))
        .join(knn.select(col("a_id").as("b_id"), col("b_id").as("a_id")),
          Seq("a_id", "b_id"), "left_semi")
    }),

    // ---- brute-force cosine top-k against a query vector ---------------
    "q40_cosine_topk" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(dot("embedding", "qvec") / (norm("embedding") * norm("qvec")), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(20)
    }),

    // ---- hybrid retrieval: reciprocal-rank fusion of BM25 + cosine -----
    // The RAG-era retrieval contract: a lexical arm (the q115 BM25
    // scorer over fixed query terms) and a semantic arm (the q40
    // brute-force cosine top-k) are each ranked to top-50, then fused
    // with RRF (Cormack/Clarke/Buettcher 2009): score = Σ 1/(60+rank),
    // carried in integer micro-units (floor(1e9/(60+r))) so the fused
    // ordering is bit-identical across engines. Scale posture: both
    // arms end in a TakeOrdered (no global sort); the rank windows run
    // AFTER the limit, so every window frame is k-bounded (≤50 rows),
    // never corpus-sized; the fusion join is a full-outer over two
    // k-row frames. The corpus-sized work is exactly one tokenize pass
    // (term-filtered, broadcast df/stats — the q115 plan) plus one
    // map-only cosine pass (broadcast query vector — the q40 plan).
    "q162_rrf_fusion" -> ((s0, d) => {
      val s = withFns(s0)
      val k = 50
      val qTerms = Seq("scan", "column", "merge", "join", "order")
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), w -> w <> '')").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          col("toks"))
      val stats = docs.agg(count(lit(1)).as("n"), sum("dl").as("tot"))
      // persisted: tf feeds BOTH the df pass and the scoring join (the
      // q115 discipline) — without it the corpus is tokenized twice
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(qTerms: _*))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val avgdl = col("tot").cast("double") / col("n")
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
      val denom = col("tf") +
        lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / avgdl)
      val bm = tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("micro",
          floor(lit(1e6) * idf * (col("tf") * 2.2) / denom).cast("long"))
        .groupBy("doc_id").agg(sum("micro").as("score_micro"))
      val textTop = bm
        .orderBy(col("score_micro").desc, col("doc_id").asc).limit(k)
        .select(col("doc_id"),
          row_number().over(Window
              .orderBy(col("score_micro").desc, col("doc_id").asc))
            .cast("long").as("r_text"))
      val e = table(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val vecTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dot("embedding", "qvec") / (norm("embedding") * norm("qvec")), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id").asc).limit(k)
        .select(col("doc_id"),
          row_number().over(Window
              .orderBy(col("cosine").desc, col("doc_id").asc))
            .cast("long").as("r_vec"))
      textTop.join(vecTop, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(floor(lit(1000000000.0) / (lit(60) + col("r_text")))
            .cast("long"), lit(0L)) +
          coalesce(floor(lit(1000000000.0) / (lit(60) + col("r_vec")))
            .cast("long"), lit(0L)))
        .orderBy(col("rrf_micro").desc, col("doc_id").asc)
        .limit(20)
    }),

    // ---- eval-set leakage report: LSH-bucketed cross-set sim join ------
    // Semantic decontamination, the embedding-space complement of the
    // token-based screens (q89 exact, q97 Bloom): for every benchmark
    // vector (vec_id % 50 = 0 stands in for the eval suite), the top-3
    // nearest corpus vectors AMONG ITS LSH BUCKET — random-hyperplane
    // sign buckets (the q49 construction), so candidate generation
    // needs no corpus shuffle at all: the bench side is benchmark-suite
    // sized (broadcastable at any corpus scale) and the bucket
    // equi-join keeps comparisons to the colliding ~1/16 slice instead
    // of |corpus|×|bench|. The rank window shuffles only candidate
    // rows, keyed by bench_id. Approximation is deterministic (same
    // hyperplanes both engines), so the oracle is an exact hash-match,
    // not a recall bound.
    "q164_semantic_decontam" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings").withColumn("bucket", expr(lshBucket))
      val bench = e.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("bucket"), col("vec_id").as("bench_id"),
          col("embedding").as("bvec"))
      val corpus = e.filter(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("bucket"), col("vec_id").as("corpus_id"),
          col("embedding"))
      val scored = corpus.join(broadcast(bench), "bucket")
        .select(col("bench_id"), col("corpus_id"),
          round(dot("embedding", "bvec") / (norm("embedding") * norm("bvec")), 6)
            .as("cos_r"))
      scored
        .withColumn("rk", row_number().over(Window.partitionBy("bench_id")
          .orderBy(col("cos_r").desc, col("corpus_id").asc)).cast("long"))
        .filter(col("rk") <= 3)
    }),

    // ---- vector norms + per-label stats --------------------------------
    "q41_vector_norms" -> ((s0, d) => {
      val s = withFns(s0)
      table(s, d, "embeddings")
        .select(col("label"), round(norm("embedding"), 6).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          // exact decimal sum of rounded norms -> order-independent avg
          (sum(col("nrm").cast("decimal(18,6)")).cast("double")
            / count(lit(1))).as("avg_norm"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"))
    }),

    // ---- all-pairs near-duplicate detection by cosine (block on label) -
    // Embedding-cosine near-dup: restrict the quadratic pair space to
    // same-label blocks (the IVF-style coarse partition), then threshold.
    "q42_cosine_neardup" -> ((s0, d) => {
      val s = withFns(s0)
      // Precompute each vector's norm once (map-side, before the join) so
      // the quadratic pair stage does ONE dot product per pair, not three.
      val e = table(s, d, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"),
          norm("embedding").as("nrm"))
      val a = e.select(col("label"), col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
      val b = e.select(col("label"), col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
      a.join(b, "label").filter(col("a_id") < col("b_id"))
        .select(col("label"), col("a_id"), col("b_id"),
          round(dot("a_vec", "b_vec") / (col("a_nrm") * col("b_nrm")), 6)
            .as("cosine"))
        .filter(col("cosine") > 0.5)
    }),

    // ---- Johnson-Lindenstrauss random projection (64 -> 8 dims) --------
    // The embedding-preprocessing move before clustering / coarse ANN at
    // scale: project onto 8 fixed ±1 sign vectors (signs derived from
    // md5(i:j), so both engines regenerate the same matrix). The matrix
    // is a plan-time literal — each output dim is one codegen'd
    // array_dot against a constant array, so the whole operator is a
    // zero-shuffle map over the embedding table no matter how many
    // billion vectors flow through it; ±1.0f multiplication is exact,
    // keeping the cross-engine compare honest at round-6.
    "q112_random_projection" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
      val projCols = (0 until 8).map { j =>
        val signs = array((0 until 64).map { i =>
          lit(if (md5Hex(s"$i:$j").charAt(0) < '8') 1.0f else -1.0f)
        }: _*)
        round(call_function("array_dot", col("embedding"), signs), 6)
          .as(s"p$j")
      }
      e.select(col("vec_id") +: projCols: _*)
    }),

    // ---- q166: contrastive hard-negative mining -------------------------
    // For each anchor vector, the top-3 most-similar vectors of a
    // DIFFERENT label — the "hard negatives" a contrastive training run
    // mines to sharpen its decision boundary (easy random negatives
    // teach nothing). Plan shape is the q40/q164 broadcast discipline:
    // the anchor set is eval-suite-sized at any corpus scale, so it
    // broadcasts and the corpus is scored map-side; the per-anchor
    // row_number(≤3) plans a partial WindowGroupLimit, bounding the
    // rank exchange to ≤3 rows per anchor per partition — the corpus
    // is never window-sorted. At production recall targets the scored
    // candidates come from the q86 IVF cells instead of the full scan;
    // the mining contract (rank within anchor, cross-label only) is
    // unchanged.
    "q166_hard_negatives" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
      val anchors = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("embedding").as("a_vec"))
      val scored = e.filter(col("vec_id") >= 5)
        .crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("a_label"))
        .select(col("a_id"), col("vec_id").as("neg_id"),
          round(dot("embedding", "a_vec") /
            (norm("embedding") * norm("a_vec")), 6).as("cosine"))
      val w = Window.partitionBy("a_id")
        .orderBy(col("cosine").desc, col("neg_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
    }),

    // ---- q171: paired-modality agreement gate (CLIP-score filter) ------
    // The LAION curation pass: keep an (image, caption) pair only when
    // the two modality embeddings agree (cosine ≥ τ). Pairing here is
    // synthetic (partner id = vec_id XOR 1 — deterministic at every
    // SF); the engine-relevant part is the shape: a 1:1 equi-join on
    // the pair id (ONE shuffle, or zero when both modality tables are
    // bucketed on it) followed by a codegen'd per-row cosine and a
    // map-side filter. Nothing about the plan changes when the two
    // sides are separate image/text embedding tables of a billion
    // pairs.
    "q171_clip_gate" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
      val img = e.select(col("vec_id"), col("label"),
        col("embedding").as("img_vec"))
      val cap = e.select(expr("vec_id ^ CAST(1 AS BIGINT)").as("vec_id"),
        col("embedding").as("cap_vec"))
      img.join(cap, "vec_id")
        .withColumn("clip_score",
          round(dot("img_vec", "cap_vec") /
            (norm("img_vec") * norm("cap_vec")), 6))
        .filter(col("clip_score") >= 0.05)
        .select(col("vec_id"), col("label"), col("clip_score"))
    }),

    // ---- q209: per-group centroids + pairwise centroid products --------
    // q209 per-group embedding centroids + pairwise centroid products:
    // element-wise vector aggregation as a relational shape (explode →
    // (group, dim) partial sums → dim-keyed pair join), all integer
    // milli-units so cross-engine hashes are exact.
    // Element-wise vector aggregation as a relational shape: explode the
    // 64-dim vectors to (label, dim, milli-value), partial-sum per
    // (label, dim) — the shuffle carries |labels|·dims longs, not
    // vectors — then ONE dim-keyed join builds every pairwise centroid
    // dot product. Output is exact integers (summed milli-units): dot
    // and the two norm² values, from which cosine(centroid_a,
    // centroid_b) = dot/(n_a·n_b) ÷ (|sv_a|/n_a · |sv_b|/n_b) follows —
    // emitted unreduced so the gate hashes exact values, not last-ulp
    // doubles. The source-drift complement of q104's per-vector
    // outliers and q109's token-space drift.
    "q209_centroid_products" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos").as("i"),
          floor(col("col").cast("double") * 1000).cast("long").as("v"))
      val cent = e.groupBy("label", "i")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val norms = cent.groupBy("label")
        .agg(sum(col("sv") * col("sv")).as("norm2"), min("n").as("n"))
      val a = cent.select(col("label").as("label_a"), col("i"),
        col("sv").as("sv_a"))
      val b = cent.select(col("label").as("label_b"), col("i"),
        col("sv").as("sv_b"))
      a.join(b, Seq("i"))
        .filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(col("sv_a") * col("sv_b")).as("dot_milli2"))
        .join(norms.select(col("label").as("label_a"),
          col("norm2").as("norm2_a"), col("n").as("n_a")), "label_a")
        .join(norms.select(col("label").as("label_b"),
          col("norm2").as("norm2_b"), col("n").as("n_b")), "label_b")
        .select("label_a", "label_b", "dot_milli2",
          "norm2_a", "norm2_b", "n_a", "n_b")
    }),

    // ---- q264: embedding centroid drift between snapshot halves --------
    // q264 embedding drift: per-label centroid direction agreement
    // between the two vec_id-parity halves of the corpus — the
    // "did my embedding distribution move" monitor between two
    // snapshots, exact integer sums with one rounded-double cosine.
    // q209's per-dimension integer-sum idiom, split by vec_id parity
    // instead of across labels: per (label, half, dim) milli-unit
    // sums, one dim-keyed self-join, and the centroid direction
    // agreement cos = dot/√(n0²·n1²) as the single rounded double
    // (identical IEEE ops both engines — the norms-product sqrt runs
    // in DOUBLE because its integer value can exceed 2^63). A healthy
    // pipeline shows cos ≈ 1 per label; a drop flags drift in that
    // label's embedding distribution.
    "q264_embedding_drift" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("label").cast("long").as("label"),
          (col("vec_id") % 2).cast("long").as("half"),
          posexplode(col("embedding")))
        .select(col("label"), col("half"), col("pos").as("i"),
          floor(col("col").cast("double") * 1000).cast("long").as("v"))
      val cent = e.groupBy("label", "half", "i")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val h0 = cent.filter(col("half") === 0)
        .select(col("label"), col("i"), col("sv").as("s0"),
          col("n").as("n0"))
      val h1 = cent.filter(col("half") === 1)
        .select(col("label"), col("i"), col("sv").as("s1"),
          col("n").as("n1"))
      h0.join(h1, Seq("label", "i"))
        .groupBy("label")
        .agg(min("n0").as("n0"), min("n1").as("n1"),
          sum(expr("s0 * s1")).as("dot_milli2"),
          sum(expr("s0 * s0")).as("norm2_0"),
          sum(expr("s1 * s1")).as("norm2_1"))
        .select(col("label"), col("n0"), col("n1"), col("dot_milli2"),
          round(col("dot_milli2").cast("double") /
            sqrt(col("norm2_0").cast("double") *
              col("norm2_1").cast("double")), 6).as("cos_r"))
    }),

    // The k-selection sweep — the decision step ABOVE
    // the IVF/k-means machinery (q85/q86 build and search a fixed k=10
    // index; this picks k).
    //
    // For k ∈ {2,4,6,8,10}: deterministic seed centroids (per-(label
    // mod k) cell means — the same seeded-init family the IVF build
    // uses), one assignment pass, and the total within-cluster squared
    // distance (inertia) in exact micro units. The knee is found with
    // the chord rule (Kneedle's discrete form): the k maximizing the
    // |cross product| distance from the line joining the curve's
    // endpoints — pure integer arithmetic, so both engines agree on the
    // chosen k exactly.

    // ---- q308: elbow sweep over k --------------------------------------
    // Each k costs one broadcast-centroid scoring pass over the
    // embeddings (the q282/q85 map-only shape: P·n scored rows never
    // shuffle; argmin is a combinable min-of-struct) plus a scalar
    // inertia sum — 5 linear passes total, no quadratic stage.
    // d² = round(v·v − 2v·c + c·c, 6) is the established
    // sequential-double recipe; the ·1e6 + 0.5 floor turns the
    // 6-dp-rounded value into an exact integer in both engines, so
    // inertia sums are order-independent i64 arithmetic.
    "q308_kselect_sweep" -> ((s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"),
        col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // r11: the sweep is STACKED on k instead of 5 separate branches —
      // one exploded pass computes every k's centroid cells (each
      // (row, dim) lands in 5 (k, label % k, pos) groups; the per-group
      // value multiset, and so round(avg, 6), is identical to the
      // per-k formulation's) and ONE broadcast-scored pass over e does
      // all 5 assignments with (vec_id, k)-keyed argmin. Total scored
      // rows are unchanged (n·Σk either way); what drops is 10 passes
      // over the cached embeddings and ~15 exchanges down to 2 scans +
      // 4 exchanges — the same plan a production sweep over dozens of
      // candidate k's needs, where per-k branches would mean a
      // planning/scheduling blowup.
      val kArr = array(Ks.map(lit): _*)
      val cents = e
        .select(explode(kArr).as("k"), col("label"), col("v"))
        .select(col("k"), (col("label") % col("k")).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("k", "cid", "pos").agg(round(avg("x"), 6).as("c"))
        .groupBy("k", "cid")
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
          .as("cvec"))
      val perK = e.crossJoin(broadcast(cents))
        .withColumn("d2", round(
          dotD("v", "v") - lit(2) * dotD("v", "cvec")
            + dotD("cvec", "cvec"), 6))
        .groupBy("vec_id", "k")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("k"),
          expr("CAST(floor(m.d2 * 1000000 + 0.5) AS BIGINT)").as("dm"))
        .groupBy("k").agg(sum("dm").as("inertia_micro"))
        .select(col("k").cast("long").as("k"), col("inertia_micro"))
      // Chord rule on the 5-point curve: score(k) ∝ |ΔI_total·(k−k0)
      // − Δk_total·(I−I0)| — integers end to end; ties pick smaller k.
      val ends = perK.agg(
        min(struct(col("k"), col("inertia_micro"))).as("lo"),
        max(struct(col("k"), col("inertia_micro"))).as("hi"))
        .select(col("lo.k").as("k0"),
          col("lo.inertia_micro").as("i0"),
          col("hi.k").as("k1"), col("hi.inertia_micro").as("i1"))
      val scored = perK.crossJoin(broadcast(ends))
        .withColumn("knee_score", abs(
          (col("i1") - col("i0")) * (col("k") - col("k0")) -
            (col("k1") - col("k0")) * (col("inertia_micro") - col("i0"))))
      val best = scored
        .agg(max(struct(col("knee_score").as("ks"),
          (-col("k")).as("nk"))).as("b"))
        .select((-col("b.nk")).as("bk"))
      scored.crossJoin(broadcast(best))
        .select(col("k"), col("inertia_micro"), col("knee_score"),
          (col("k") === col("bk")).as("is_knee"))
    }),

    // Feed-health monitors — a category/schema drift
    // audit over a temporal split of the event feed, and an
    // embedding-space outlier scan (distance to own-label centroid, the
    // inverse of q147's SemDeDup nearness). Both are one-pass shapes:
    // the drift audit reduces to a |event_type|-row frame, the outlier
    // scan to a P-row centroid broadcast plus a map-only score and a
    // TakeOrdered top-k — no corpus-sized window anywhere.

    // ---- q320: embedding outliers by own-centroid distance -------------
    // Per-label centroids (P×dim broadcast frame, q282's build); each
    // vector's exact squared distance to ITS OWN label centroid
    // v·v − 2 v·c + c·c (sequential-double, round-6 pinned); global
    // top-20 by (distance desc, vec_id) via TakeOrdered — the
    // scalable top-k, no corpus-sized window. These are the points a
    // curation pass would eyeball as mislabeled or junk.
    "q320_embedding_outlier_scan" -> ((s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"),
        col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val cents = e
        .select(col("label").as("clabel"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("clabel", "pos").agg(round(avg("x"), 6).as("c"))
        .groupBy("clabel")
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
          .as("cvec"))
      e.join(broadcast(cents), col("label") === col("clabel"))
        .withColumn("dist2", round(
          dotD("v", "v") - lit(2) * dotD("v", "cvec")
            + dotD("cvec", "cvec"), 6))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), col("label"), col("dist2"))
    }),

    // Model-feature diagnostics — per-dimension Fisher
    // separability of the embedding space (which coordinates actually
    // separate the labels) and the Qini-style uplift-by-decile curve
    // (does the treatment effect concentrate in a scoreable segment).
    // Embedding floats are QUANTIZED to exact micro integers at the
    // boundary so every moment is an order-independent integer sum —
    // the discipline that makes float analytics cross-engine exact.

    // ---- q371: Fisher separability per embedding dimension --------------
    // x_q = ⌊x·1e6⌋ per (vector, dim); per (dim, label): n, Σx, Σx²
    // (DECIMAL); Fisher ratio = between-class SS over within-class SS
    // in ppm, all from the label-moment frame (64 dims × 10 labels).
    // The top dims are where a cheap slice-based router would look.
    "q371_fisher_separability" -> ((s, d) => {
      val q = table(s, d, "embeddings")
        .select(col("label").cast("long").as("lbl"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(x * 1000000) AS BIGINT))"))
            .as(Seq("dim", "xq")))
      val lm = q.groupBy("dim", "lbl")
        .agg(count(lit(1)).as("n"), sum("xq").as("sx"),
          sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"))
      // between-class SS avoids per-label division by lifting to the
      // common denominator: Σ_l (sx_l·nn − n_l·sxt)² div (n_l·nn²)
      val joined = lm.join(
        lm.groupBy("dim").agg(sum("n").as("nn"), sum("sx").as("sxt")),
        "dim")
      joined
        .withColumn("between_term", expr(
          """(CAST(sx AS DECIMAL(38,0)) * nn
             - CAST(n AS DECIMAL(38,0)) * sxt)
             * (CAST(sx AS DECIMAL(38,0)) * nn
             - CAST(n AS DECIMAL(38,0)) * sxt)
             div (CAST(n AS DECIMAL(38,0)) * nn * nn)"""))
        .withColumn("within_term", expr(
          """CAST(sxx AS DECIMAL(38,0))
             - CAST(sx AS DECIMAL(38,0)) * sx div n"""))
        .groupBy("dim")
        .agg(max("nn").as("n_vectors"),
          expr("""CAST(sum(between_term) * 1000000
              div greatest(CAST(1 AS DECIMAL(38,0)), sum(within_term))
              AS BIGINT)""").as("fisher_ppm"))
        .select(col("dim").cast("long").as("dim"), col("n_vectors"),
          col("fisher_ppm"))
    }),

    // ---- q386: 5-NN majority-vote label-error scan (adaptive LSH) ------
    // q386 kNN label-error scan: confident-learning-style audit (own
    // label vs 5-NN majority) with ADAPTIVE sign-LSH blocking — the
    // code length grows with the corpus (bits = bitlength((n-1) div
    // 125)), keeping expected bucket size ~constant, so the
    // within-bucket pair stage stays LINEAR in corpus size where a
    // fixed code would go quadratic.
    // Code length adapts to the corpus: bits = bitlength((n-1) div 125)
    // (>= 4), so expected bucket size stays ~125 vectors and the
    // within-bucket pair stage is O(n·125) at ANY corpus size — the
    // fixed-code variant would re-derive the all-pairs blowup as the
    // corpus grows. Neighbors = same sign-LSH bucket; per anchor the
    // top-5 by cosine (rounded, the q40 parity discipline) vote; an
    // anchor whose own label differs from a >=3-vote majority is a
    // label-error suspect (confident-learning shape). Anchors with
    // fewer than 5 bucket neighbors abstain (counted separately).
    "q386_knn_label_audit" -> ((s0, d) => {
      val s = withFns(s0)
      val e = table(s, d, "embeddings")
      val bits = e.agg(count(lit(1)).as("n"))
        .select(greatest(lit(4),
          length(bin(expr("(n - 1) div 125")))).cast("int").as("bits"))
      val projected = e.select(
        Seq(col("vec_id"), col("label"), col("embedding")) ++
          (0 until NPlanes).map { j =>
            val signs = array(planeSigns(j).map(v => lit(v)): _*)
            round(fdot(col("embedding"), signs), 6).as(s"p$j")
          }: _*)
      // Norms are PER-VECTOR, so compute sqrt(<v,v>) once per vector
      // before the bucket self-join — the former shape recomputed both
      // self-dots for EVERY candidate pair, tripling the pair stage's
      // dot-product work (guide §1.2 step 1: don't recompute what a
      // cheaper grain already has). Same IEEE ops per pair (sqrt then
      // multiply, round at the end) — cos_r is bit-identical.
      val bucketed = projected.crossJoin(broadcast(bits))
        .withColumn("bucket", expr((0 until NPlanes).map { j =>
          s"CASE WHEN $j < bits AND p$j >= 0 THEN ${1 << j} ELSE 0 END"
        }.mkString(" + ")))
        .select(col("vec_id"), col("label"), col("embedding"),
          sqrt(fdot(col("embedding"), col("embedding"))).as("nrm"),
          col("bucket"))
      val a = bucketed.select(col("vec_id").as("a_id"),
        col("label").as("a_label"), col("embedding").as("a_vec"),
        col("nrm").as("a_nrm"), col("bucket"))
      val b = bucketed.select(col("vec_id").as("b_id"),
        col("label").as("b_label"), col("embedding").as("b_vec"),
        col("nrm").as("b_nrm"), col("bucket"))
      val pairs = a.join(b, "bucket").filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("a_label"), col("b_id"), col("b_label"),
          round(fdot(col("a_vec"), col("b_vec")) /
            (col("a_nrm") * col("b_nrm")), 6).as("cos_r"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("a_id")
        .orderBy(col("cos_r").desc, col("b_id").asc)
      val top5 = pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
      val full5 = top5.groupBy("a_id").agg(count(lit(1)).as("k"))
        .filter(col("k") === 5).select("a_id")
      val votes = top5.join(full5, "a_id")
        .groupBy("a_id", "a_label", "b_label")
        .agg(count(lit(1)).as("c"))
      val maj = votes.groupBy("a_id", "a_label")
        .agg(max(struct(col("c"), (-col("b_label")).as("nl"))).as("m"))
        .select(col("a_id"), col("a_label"),
          (-col("m.nl")).as("maj_label"), col("m.c").as("maj_c"))
      maj
        .withColumn("suspect",
          (col("maj_label") =!= col("a_label") && col("maj_c") >= 3)
            .cast("long"))
        .groupBy(col("a_label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_anchors"),
          sum("suspect").as("n_suspect"))
        .withColumn("suspect_ppm",
          expr("n_suspect * 1000000 div n_anchors"))
        .orderBy("label")
    }))

  /** Lowercase hex md5 of a string — plan-time only (sign matrix
    * generation for q112); matches DuckDB's md5() exactly. */
  private def md5Hex(sIn: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sIn.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Random-hyperplane LSH bucket id: sign bits of 4 dot products with
    * deterministic pseudo-hyperplanes w(j,k) = (j*31+k*17)%7-3. */
  private def lshBucket =
    """concat_ws('', transform(sequence(1, 4), j ->
         CASE WHEN aggregate(
           zip_with(embedding,
             transform(sequence(1, size(embedding)),
               k -> CAST((j*31 + k*17) % 7 - 3 AS DOUBLE)),
             (x, w) -> CAST(x AS DOUBLE) * w),
           CAST(0 AS DOUBLE), (a, v) -> a + v) > 0
         THEN '1' ELSE '0' END))"""

  lazy val lshQueries: Map[String, Q] = Map(
    // ---- IVF centroids: element-wise per-label mean vectors ------------
    // posexplode + (label, dim) aggregation — one shuffle of (dims ×
    // labels) keys; the coarse-quantizer build step for IVF-style ANN.
    "q82_ivf_centroids" -> ((s, d) => {
      table(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(avg(col("v").cast("double")), 6).as("c"),
          count(lit(1)).as("n"))
    }),

    // ---- embedding outliers: distance-to-centroid quality filter -------
    // The SemDeDup-style prototypicality screen: score every vector by
    // its squared distance to its label centroid, keep the top-5
    // outliers per label (the candidates a curation pass reviews or
    // drops). Top-k per group is TWO-PHASE: each partition pre-reduces
    // to ≤k candidates per label via sort_array(collect_list)[1..k]
    // (partition-bounded state), and only those ≤ k·P survivors hit the
    // final per-label rank — the full corpus is never window-sorted.
    // Distances use the same sequential-double formulation as the IVF
    // ladder, so round(·,6) is bit-identical to the oracle.
    "q104_embedding_outliers" -> ((s, d) => {
      val e = embDouble(s, d)
      val cents = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos").agg(round(avg("x"), 6).as("c"))
        .groupBy("label")
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
          .as("cvec"))
      val scored = e.join(broadcast(cents), "label")
        .withColumn("dist2",
          round(dotD("v", "v") - lit(2) * dotD("v", "cvec")
            + dotD("cvec", "cvec"), 6))
        .select("label", "vec_id", "dist2")
      val local = scored
        .withColumn("_pid", spark_partition_id())
        .groupBy("label", "_pid")
        .agg(expr("""slice(sort_array(collect_list(
               struct(-dist2 AS nd, vec_id AS vec_id, dist2 AS dist2))),
             1, 5)""").as("top"))
        .select(col("label"), explode(col("top")).as("t"))
        .select(col("label"), col("t.vec_id"), col("t.dist2"))
      val w = Window.partitionBy("label")
        .orderBy(col("dist2").desc, col("vec_id").asc)
      local.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("label", "vec_id", "dist2")
    }),

    // ---- LSH-bucketed ANN: the scale path for similarity search --------
    // Buckets are computed map-side (no shuffle); at cluster scale the
    // search fans out to one bucket (plus neighbors for recall), turning
    // the O(n) brute-force scan into an O(n/2^bits) probe.
    "q49_lsh_buckets" -> ((s, d) => {
      table(s, d, "embeddings")
        .withColumn("bucket", expr(lshBucket))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"),
          max("vec_id").as("max_vec"))
    }))

  /** Full IVF probe: round(·,6) centroids are bit-identical across
    * engines, so nearest-centroid selection is deterministic; the
    * within-cell scan then reuses the exact cosine formulation. */
  lazy val ivfSearch: Q = (s0, d) => {
    val s = withFns(s0)
    val e = table(s, d, "embeddings")
    // centroid vectors: per-label element-wise rounded means
    val cvecs = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), x -> x.c)")
        .as("cvec"))
    val qv = e.filter(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qd"),
        col("embedding").as("qvec"))
    // probe: cell whose centroid has the largest dot with the query
    val nearest = cvecs.crossJoin(broadcast(qv))
      .withColumn("score", expr(
        """aggregate(zip_with(cvec, qd, (x, y) -> x * y),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""))
      .orderBy(col("score").desc, col("label").asc)
      .limit(1)
      .select(col("label"), col("qvec"))
    // exact top-k inside the probed cell only
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(nearest), "label")
      .select(col("label"), col("vec_id"),
        round(dot("embedding", "qvec")
          / (norm("embedding") * norm("qvec")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }

  // ---- learned IVF (k-means) ----------------------------------------
  // Deterministic, oracle-checkable Lloyd iterations, DataFrame-only:
  //  - embeddings are exact multiples of 1/128, so double sums (and
  //    therefore per-cell means) are EXACT and order-independent;
  //  - centroids round to 6 decimals after every update;
  //  - the assignment score is round(|c|² − 2·v·c, 6) (argmin over
  //    cells of the squared L2 distance minus the per-vector constant
  //    |v|²), computed as sequential double dot products that match
  //    DuckDB's list_dot_product bit-for-bit; ties break on cid.
  // Seeded from the per-label means (the q82 coarse quantizer).

  /** Embeddings with the vector cast to ARRAY<DOUBLE> once. */
  private def embDouble(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** k-means assignment score of row vector `v` vs centroid `cvec`. */
  private def assignScore: Column =
    round(dotD("cvec", "cvec") - lit(2) * dotD("v", "cvec"), 6)

  /** Element-wise per-cell means → (cid, cvec), rounded to 6 dp. */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(round(avg("x"), 6).as("c"))
      .groupBy("cid")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
        .as("cvec"))

  /** Assign each vector to its nearest centroid. The k×n score rows
    * reduce to one row per vector via a map-side-combined min(struct)
    * BEFORE the shuffle (no window over the k-fold-replicated vectors);
    * the winning cid rejoins the embedding by key. */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(assignScore.as("score"), col("cid").as("cid")).as("sc"))
      .groupBy("vec_id").agg(min("sc").as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
      .join(e, "vec_id")

  /** Assignment after 2 Lloyd rounds: seed = label means → update →
    * re-assign. Returns (vec_id, cid, label, v) plus the learned
    * centroids. The embedding frame is re-scanned once per stage —
    * trivial at bench scale; a 100 TB index build persists the
    * double-cast embeddings (or stages them to parquet) before
    * iterating, the standard k-means-on-Spark posture. */
  private def kmeansIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = embDouble(s, d)
    val seed = centroidsOf(e.withColumn("cid", col("label")))
    // Persist both index artifacts: Spark's cache manager matches on
    // the canonicalized plan, so q85 (build) and q86 (search) — and
    // the two references to c1 inside the search itself — share one
    // Lloyd run instead of re-deriving it per action (same pattern as
    // WikitextOps' shared extraction).
    val c1 = centroidsOf(assignTo(e, seed))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a2 = assignTo(e, c1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (a2, c1)
  }

  /** q85: learned centroids after the second assignment's update, with
    * cell sizes — the IVF index-build output. */
  lazy val ivfKmeans: Q = (s, d) => {
    val (a2, _) = kmeansIndex(s, d)
    a2.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(round(avg("x"), 6).as("c"), count(lit(1)).as("n"))
  }

  /** q86: ANN search over the learned index, nprobe=4 — probe the four
    * cells whose centroids are L2-nearest to the query, exact cosine
    * top-10 over their members only. (The synthetic embeddings are
    * near-uniform — no real cluster structure — so recall tracks the
    * probed fraction: nprobe=4 of k=10 cells recovers 0.7 of the
    * brute-force top-10 at sf0.001, VectorSpec. On genuinely clustered
    * corpora the same plan reaches high recall with 1-2 probes.) */
  lazy val ivfKmeansSearch: Q = (s, d) => {
    val (a2, c1) = kmeansIndex(s, d)
    val q = embDouble(s, d).filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val probed = c1.crossJoin(broadcast(q))
      .withColumn("v", col("qv")) // assignScore reads columns v/cvec
      .select(col("cid"), assignScore.as("score"))
      .orderBy(col("score").asc, col("cid").asc)
      .limit(4)
      .select("cid")
    a2.filter(col("vec_id") =!= 0)
      .join(broadcast(probed), "cid")
      .crossJoin(broadcast(q))
      .select(col("cid"), col("vec_id"),
        round(dotD("v", "qv")
          / (sqrt(dotD("v", "v")) * sqrt(dotD("qv", "qv"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Product quantization — the ANN memory-compression path: split the
    * 64-dim vector into 4 subspaces of 16 dims, learn a small codebook
    * per subspace (per-label subvector means, the deterministic seed
    * quantizer), and store each vector as 4 short codes — 64 floats →
    * 4 codes, the 100 TB trick that keeps a billion-vector index in
    * RAM. Search is asymmetric distance computation (ADC): one
    * distance table per subspace between the query and the codebook
    * (k×4 entries, broadcast), then each candidate's approximate
    * distance is 4 TABLE LOOKUPS summed — no per-candidate vector math
    * at all. Same rounded-score determinism as the k-means build.
    *
    * Recall is data-dependent: on clustered corpora (the real-world
    * case) the codebooks capture the clusters and ADC ranking tracks
    * exact ranking (VectorSpec); the near-uniform synthetic embeddings
    * are PQ's worst case, so there q92 is the machinery contract (ADC
    * arithmetic bit-matched by the oracle), with exact re-ranking of
    * an ADC shortlist as the documented production topping. */
  lazy val pqSearch: Q = (s, d) => pqSearchOf(embDouble(s, d))

  /** PQ over any (vec_id, label, v: ARRAY<DOUBLE>) frame whose dims
    * are a multiple of 4; query = vec_id 0. */
  def pqSearchOf(e: DataFrame): DataFrame = {
    val sublen = "(size(v) div 4)"
    // (vec_id, label, sub, sv): the 4 subvectors of every embedding
    val sub = e.select(col("vec_id"), col("label"), explode(expr(
      s"""transform(sequence(0, 3),
           j -> struct(j AS sub, slice(v, j*$sublen + 1, $sublen) AS sv))"""))
      .as("x"))
      .select(col("vec_id"), col("label"),
        col("x.sub").as("sub"), col("x.sv").as("sv"))
    // per-subspace codebook: (sub, cid, cvec)
    val cb = sub
      .select(col("label").as("cid"), col("sub"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "cid", "pos").agg(round(avg("x"), 6).as("c"))
      .groupBy("sub", "cid")
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
        .as("cvec"))
    // encode: nearest codebook entry per (vector, subspace)
    val codes = sub.join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"),
        struct(
          round(dotD("cvec", "cvec") - lit(2) * dotD("sv", "cvec"), 6)
            .as("score"),
          col("cid").as("cid")).as("sc"))
      .groupBy("vec_id", "sub").agg(min("sc").as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("code"))
    // ADC distance table for the query (vec_id = 0)
    val qsub = sub.filter(col("vec_id") === 0)
      .select(col("sub"), col("sv").as("qv"))
    val table = cb.join(broadcast(qsub), "sub")
      .select(col("sub"), col("cid").as("code"),
        round(dotD("cvec", "cvec") - lit(2) * dotD("qv", "cvec"), 6)
          .as("partial"))
    codes.filter(col("vec_id") =!= 0)
      .join(broadcast(table), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(round(sum("partial"), 6).as("adc_score"))
      .orderBy(col("adc_score").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Shared DuckDB CTE chain for the learned-IVF oracles: exactly the
    * Spark computation — seed = label means, two assignment rounds with
    * round(|c|²−2v·c, 6) scores and cid tie-break, 6-dp centroids. */
  private val kmeansCtes =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       ev AS (SELECT vec_id, label,
                unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x
              FROM e),
       seed AS (
         SELECT cid, list(c ORDER BY pos) AS cvec FROM (
           SELECT label AS cid, i - 1 AS pos, round(avg(x), 6) AS c
           FROM ev GROUP BY label, i)
         GROUP BY cid),
       a1 AS (
         SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(e.v, c.cvec), 6) ASC,
               c.cid ASC) AS rn
           FROM e CROSS JOIN seed c) WHERE rn = 1),
       c1 AS (
         SELECT cid, list(c ORDER BY pos) AS cvec FROM (
           SELECT a1.cid, ev.i - 1 AS pos, round(avg(ev.x), 6) AS c
           FROM ev JOIN a1 USING (vec_id) GROUP BY a1.cid, ev.i)
         GROUP BY cid),
       a2 AS (
         SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(c.cvec, c.cvec)
                     - 2 * list_dot_product(e.v, c.cvec), 6) ASC,
               c.cid ASC) AS rn
           FROM e CROSS JOIN c1 c) WHERE rn = 1)"""

  private def kBranch(k: Int): String =
    s"""SELECT CAST($k AS BIGINT) AS k,
          sum(CAST(floor(dm * 1000000 + 0.5) AS BIGINT)) AS inertia_micro
        FROM (
          SELECT e.vec_id, min(round(
              list_dot_product(e.v, e.v)
              - 2 * list_dot_product(e.v, c.cvec)
              + list_dot_product(c.cvec, c.cvec), 6)) AS dm
          FROM ev e CROSS JOIN (
            SELECT cid, list(c ORDER BY pos) AS cvec FROM (
              SELECT CAST(label AS BIGINT) % $k AS cid, i AS pos,
                     round(avg(x), 6) AS c
              FROM (SELECT label,
                      unnest(range(1, len(embedding) + 1)) AS i,
                      unnest(CAST(embedding AS DOUBLE[])) AS x
                    FROM embeddings)
              GROUP BY 1, 2)
            GROUP BY cid) c
          GROUP BY e.vec_id)"""

  // ---- oracles ---------------------------------------------------------

  private def signsSql(j: Int): String =
    planeSigns(j).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]::DOUBLE[]")

  val oracle: Map[String, String] = Map(
    "q96_int8_quant" ->
      """SELECT vec_id,
         round(scale, 6) AS scale_r,
         CAST(list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
           AS BIGINT) AS q_sum,
         CAST(list_sum(list_transform(embedding,
           x -> abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))))
           AS BIGINT) AS q_l1,
         round(sqrt(list_sum(list_transform(embedding,
           x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
              * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))),
           6) AS recon_err
         FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
               FROM embeddings)
         WHERE scale > 0""",
    "q92_pq_search" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         sub AS (SELECT vec_id, label, j AS sub,
                   v[j*16 + 1 : j*16 + 16] AS sv
                 FROM e, (SELECT unnest([0, 1, 2, 3]) AS j)),
         cb AS (
           SELECT sub, cid, list(c ORDER BY pos) AS cvec FROM (
             SELECT sub, label AS cid, i - 1 AS pos, round(avg(x), 6) AS c
             FROM (SELECT sub, label,
                     unnest(range(1, len(sv) + 1)) AS i, unnest(sv) AS x
                   FROM sub)
             GROUP BY sub, label, i)
           GROUP BY sub, cid),
         codes AS (
           SELECT vec_id, sub, cid AS code FROM (
             SELECT s.vec_id, s.sub, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
                 round(list_dot_product(c.cvec, c.cvec)
                       - 2 * list_dot_product(s.sv, c.cvec), 6) ASC,
                 c.cid ASC) AS rn
             FROM sub s JOIN cb c ON s.sub = c.sub) WHERE rn = 1),
         qsub AS (SELECT sub, sv AS qv FROM sub WHERE vec_id = 0),
         tbl AS (
           SELECT c.sub, c.cid AS code,
             round(list_dot_product(c.cvec, c.cvec)
                   - 2 * list_dot_product(q.qv, c.cvec), 6) AS partial
           FROM cb c JOIN qsub q ON c.sub = q.sub)
         SELECT codes.vec_id, round(sum(partial), 6) AS adc_score
         FROM codes JOIN tbl
           ON codes.sub = tbl.sub AND codes.code = tbl.code
         WHERE codes.vec_id <> 0
         GROUP BY codes.vec_id
         ORDER BY adc_score ASC, vec_id ASC LIMIT 10""",
    "q84_lsh_neardup" ->
      """WITH b AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             array_to_string(list_transform([1,2,3,4], j ->
               CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                 list_transform(range(1, len(embedding) + 1),
                   k -> CAST((j*31 + k*17) % 7 - 3 AS DOUBLE))) > 0
               THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings)
         SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
           round(list_cosine_similarity(a.v, b2.v), 6) AS cosine
         FROM b a JOIN b b2
           ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         WHERE round(list_cosine_similarity(a.v, b2.v), 6) > 0.3""",
    "q85_ivf_kmeans" -> (kmeansCtes +
      """
         SELECT a2.cid, CAST(ev.i - 1 AS INTEGER) AS pos,
           round(avg(ev.x), 6) AS c, count(*) AS n
         FROM ev JOIN a2 USING (vec_id)
         GROUP BY a2.cid, ev.i"""),
    "q86_ivf_kmeans_search" -> (kmeansCtes +
      """,
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         probe AS (
           SELECT c.cid FROM c1 c CROSS JOIN q
           ORDER BY round(list_dot_product(c.cvec, c.cvec)
                          - 2 * list_dot_product(q.qv, c.cvec), 6) ASC,
             c.cid ASC
           LIMIT 4)
         SELECT a2.cid, e.vec_id,
           round(list_cosine_similarity(e.v, (SELECT qv FROM q)), 6)
             AS cosine
         FROM e JOIN a2 USING (vec_id) JOIN probe ON a2.cid = probe.cid
         WHERE e.vec_id <> 0
         ORDER BY cosine DESC, e.vec_id ASC LIMIT 10"""),
    "q147_semdedup" -> (kmeansCtes +
      """,
         prs AS (
           SELECT a.cid, a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_r
           FROM a2 a JOIN a2 b
             ON a.cid = b.cid AND a.vec_id > b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id)
         SELECT a_id AS vec_id, cid,
           CAST(min(b_id) AS BIGINT) AS keeper_id,
           max(cos_r) AS cos_max
         FROM prs WHERE cos_r >= 0.3
         GROUP BY a_id, cid"""),
    "q83_ivf_search" ->
      """WITH cent AS (
           SELECT label, list(c ORDER BY i) AS cvec FROM (
             SELECT label, i, round(avg(v), 6) AS c
             FROM (SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS i,
                     unnest(CAST(embedding AS DOUBLE[])) AS v
                   FROM embeddings)
             GROUP BY label, i)
           GROUP BY label),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qd
               FROM embeddings WHERE vec_id = 0),
         best AS (
           SELECT label FROM cent, q
           ORDER BY list_dot_product(cvec, qd) DESC, label ASC LIMIT 1)
         SELECT e.label, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             (SELECT qd FROM q)), 6) AS cosine
         FROM embeddings e JOIN best ON e.label = best.label
         WHERE e.vec_id <> 0
         ORDER BY cosine DESC, vec_id ASC LIMIT 10""",
    "q82_ivf_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         round(avg(v), 6) AS c, count(*) AS n
         FROM (SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS i,
                 unnest(CAST(embedding AS DOUBLE[])) AS v
               FROM embeddings)
         GROUP BY label, i""",
    "q104_embedding_outliers" ->
      """WITH cent AS (
           SELECT label, list(c ORDER BY i) AS cvec FROM (
             SELECT label, i, round(avg(v), 6) AS c
             FROM (SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS i,
                     unnest(CAST(embedding AS DOUBLE[])) AS v
                   FROM embeddings)
             GROUP BY label, i)
           GROUP BY label),
         scored AS (
           SELECT e.label, e.vec_id,
             round(list_dot_product(v, v) - 2 * list_dot_product(v, cvec)
                   + list_dot_product(cvec, cvec), 6) AS dist2
           FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings) e
           JOIN cent ON e.label = cent.label)
         SELECT label, vec_id, dist2 FROM (
           SELECT label, vec_id, dist2, row_number() OVER (
             PARTITION BY label ORDER BY dist2 DESC, vec_id ASC) AS rn
           FROM scored)
         WHERE rn <= 5""",
    "q49_lsh_buckets" ->
      """SELECT bucket, count(*) AS n, min(vec_id) AS min_vec,
         max(vec_id) AS max_vec FROM (
           SELECT vec_id, array_to_string(list_transform([1,2,3,4], j ->
             CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
               list_transform(range(1, len(embedding) + 1),
                 k -> CAST((j*31 + k*17) % 7 - 3 AS DOUBLE))) > 0
             THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings)
         GROUP BY bucket""",
    "q162_rrf_fusion" ->
      """WITH d AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
                    w -> w <> '') AS toks
           FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         stats AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(dl) AS BIGINT) AS tot FROM dl),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM (
             SELECT doc_id, unnest(toks) AS tok FROM d)
           WHERE tok IN ('scan', 'column', 'merge', 'join', 'order')
           GROUP BY doc_id, tok),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
                GROUP BY tok),
         bm AS (
           SELECT tf.doc_id,
             CAST(sum(CAST(floor(
               1e6 * ln((n - df + 0.5) / (df + 0.5) + 1)
                 * (tf * CAST(2.2 AS DOUBLE))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
                                / (CAST(tot AS DOUBLE) / n)))) AS BIGINT))
               AS BIGINT) AS score_micro
           FROM tf
           JOIN dl ON tf.doc_id = dl.doc_id
           JOIN df ON tf.tok = df.tok, stats
           GROUP BY tf.doc_id),
         tt AS (
           SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r_text
           FROM bm ORDER BY score_micro DESC, doc_id LIMIT 50),
         vv AS (
           SELECT doc_id, CAST(row_number() OVER (
               ORDER BY cosine DESC, doc_id) AS BIGINT) AS r_vec
           FROM (
             SELECT vec_id AS doc_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                  WHERE vec_id = 0)), 6) AS cosine
             FROM embeddings WHERE vec_id <> 0)
           ORDER BY cosine DESC, doc_id LIMIT 50)
         SELECT COALESCE(tt.doc_id, vv.doc_id) AS doc_id, r_text, r_vec,
           COALESCE(CAST(floor(1000000000.0 / (60 + r_text)) AS BIGINT), 0)
           + COALESCE(CAST(floor(1000000000.0 / (60 + r_vec)) AS BIGINT), 0)
             AS rrf_micro
         FROM tt FULL OUTER JOIN vv ON tt.doc_id = vv.doc_id
         ORDER BY rrf_micro DESC, doc_id LIMIT 20""",
    "q164_semantic_decontam" ->
      """WITH e AS (
           SELECT vec_id, embedding,
             array_to_string(list_transform([1,2,3,4], j ->
               CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                 list_transform(range(1, len(embedding) + 1),
                   k -> CAST((j*31 + k*17) % 7 - 3 AS DOUBLE))) > 0
               THEN '1' ELSE '0' END), '') AS bucket
           FROM embeddings),
         sc AS (
           SELECT b.vec_id AS bench_id, c.vec_id AS corpus_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])), 6) AS cos_r
           FROM e b JOIN e c ON b.bucket = c.bucket
           WHERE b.vec_id % 50 = 0 AND c.vec_id % 50 <> 0)
         SELECT bench_id, corpus_id, cos_r, CAST(rk AS BIGINT) AS rk
         FROM (SELECT sc.*, row_number() OVER (
             PARTITION BY bench_id ORDER BY cos_r DESC, corpus_id) AS rk
           FROM sc)
         WHERE rk <= 3""",
    "q40_cosine_topk" ->
      """SELECT vec_id,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
         FROM embeddings WHERE vec_id <> 0
         ORDER BY cosine DESC, vec_id ASC LIMIT 20""",
    "q41_vector_norms" ->
      """SELECT label, count(*) AS n,
         CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_norm,
         round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
         FROM (SELECT label,
                 round(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * x))), 6) AS nrm
               FROM embeddings)
         GROUP BY label""",
    "q137_mutual_knn" ->
      """WITH p AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_r
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id),
         k AS (
           SELECT a_id, b_id, cos_r FROM (
             SELECT p.*, row_number() OVER (
               PARTITION BY a_id ORDER BY cos_r DESC, b_id) AS rk
             FROM p)
           WHERE rk <= 3)
         SELECT x.a_id, x.b_id, x.cos_r FROM k x
         WHERE x.a_id < x.b_id
           AND EXISTS (SELECT 1 FROM k y
                       WHERE y.a_id = x.b_id AND y.b_id = x.a_id)""",

    "q42_cosine_neardup" ->
      """SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) > 0.5""",
    "q112_random_projection" -> (
      "SELECT vec_id, " +
        (0 until 8).map(j =>
          s"""round(list_dot_product(CAST(embedding AS DOUBLE[]),
             list_transform(range(0, 64), i ->
               CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':$j'), 1, 1) < '8'
                    THEN 1.0 ELSE -1.0 END)), 6) AS p$j""").mkString(", ") +
      " FROM embeddings"),
    "q166_hard_negatives" ->
      """SELECT a_id, neg_id, cosine, rank FROM (
           SELECT a.vec_id AS a_id, n.vec_id AS neg_id,
             round(list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
               CAST(a.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(
                 CAST(n.embedding AS DOUBLE[]),
                 CAST(a.embedding AS DOUBLE[])), 6) DESC, n.vec_id)
               AS rank
           FROM embeddings a
           JOIN embeddings n ON n.label <> a.label AND n.vec_id >= 5
           WHERE a.vec_id < 5)
         WHERE rank <= 3""",
    "q171_clip_gate" ->
      """SELECT i.vec_id, i.label,
           round(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]),
             CAST(c.embedding AS DOUBLE[])), 6) AS clip_score
         FROM embeddings i
         JOIN embeddings c ON i.vec_id = xor(c.vec_id, 1)
         WHERE round(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]),
             CAST(c.embedding AS DOUBLE[])), 6) >= 0.05""",
    "q209_centroid_products" ->
      """WITH e AS (
           SELECT label, i - 1 AS i,
                  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                    AS BIGINT) AS v
           FROM (SELECT label, embedding,
                        unnest(range(1, len(embedding) + 1)) AS i
                 FROM embeddings)),
         cent AS (
           SELECT label, i, sum(v) AS sv, count(*) AS n
           FROM e GROUP BY label, i),
         norms AS (
           SELECT label, sum(sv * sv) AS norm2, min(n) AS n
           FROM cent GROUP BY label),
         dots AS (
           SELECT a.label AS label_a, b.label AS label_b,
                  sum(a.sv * b.sv) AS dot_milli2
           FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
           GROUP BY a.label, b.label)
         SELECT d.label_a, d.label_b,
                CAST(d.dot_milli2 AS BIGINT) AS dot_milli2,
                CAST(na.norm2 AS BIGINT) AS norm2_a,
                CAST(nb.norm2 AS BIGINT) AS norm2_b,
                CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b
         FROM dots d
         JOIN norms na ON na.label = d.label_a
         JOIN norms nb ON nb.label = d.label_b""",

    "q264_embedding_drift" ->
      """WITH e AS (
           SELECT label, half, i - 1 AS i,
                  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                    AS BIGINT) AS v
           FROM (SELECT label, vec_id % 2 AS half, embedding,
                        unnest(range(1, len(embedding) + 1)) AS i
                 FROM embeddings)),
         cent AS (
           SELECT label, half, i, CAST(sum(v) AS BIGINT) AS sv,
             count(*) AS n
           FROM e GROUP BY label, half, i),
         j AS (
           SELECT a.label AS label, min(a.n) AS n0, min(b.n) AS n1,
             CAST(sum(a.sv * b.sv) AS BIGINT) AS dot_milli2,
             CAST(sum(a.sv * a.sv) AS BIGINT) AS norm2_0,
             CAST(sum(b.sv * b.sv) AS BIGINT) AS norm2_1
           FROM cent a JOIN cent b
             ON a.label = b.label AND a.i = b.i
             AND a.half = 0 AND b.half = 1
           GROUP BY a.label)
         SELECT CAST(label AS BIGINT) AS label, n0, n1, dot_milli2,
           round(CAST(dot_milli2 AS DOUBLE) /
             sqrt(CAST(norm2_0 AS DOUBLE) * CAST(norm2_1 AS DOUBLE)), 6)
             AS cos_r
         FROM j""",
    "q308_kselect_sweep" ->
      (s"""WITH ev AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings),
          curve AS (
            ${Ks.map(kBranch).mkString("\n UNION ALL \n")}),
          ends AS (
            SELECT min(k) AS k0, max(k) AS k1,
              (SELECT inertia_micro FROM curve
               WHERE k = (SELECT min(k) FROM curve)) AS i0,
              (SELECT inertia_micro FROM curve
               WHERE k = (SELECT max(k) FROM curve)) AS i1
            FROM curve),
          scored AS (
            SELECT c.k, c.inertia_micro,
              abs((e.i1 - e.i0) * (c.k - e.k0)
                  - (e.k1 - e.k0) * (c.inertia_micro - e.i0))
                AS knee_score
            FROM curve c, ends e),
          best AS (
            SELECT k AS bk FROM scored
            ORDER BY knee_score DESC, k ASC LIMIT 1)
          SELECT s.k, CAST(s.inertia_micro AS BIGINT) AS inertia_micro,
            CAST(s.knee_score AS BIGINT) AS knee_score,
            s.k = b.bk AS is_knee
          FROM scored s, best b"""),

    "q320_embedding_outlier_scan" ->
      """WITH e AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         cent AS (
           SELECT clabel, list(c ORDER BY pos) AS cvec FROM (
             SELECT CAST(label AS BIGINT) AS clabel, i AS pos,
                    round(avg(x), 6) AS c
             FROM (SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS i,
                     unnest(CAST(embedding AS DOUBLE[])) AS x
                   FROM embeddings)
             GROUP BY 1, 2)
           GROUP BY clabel)
         SELECT e.vec_id, e.label,
           round(list_dot_product(e.v, e.v)
             - 2 * list_dot_product(e.v, c.cvec)
             + list_dot_product(c.cvec, c.cvec), 6) AS dist2
         FROM e JOIN cent c ON e.label = c.clabel
         ORDER BY dist2 DESC, e.vec_id
         LIMIT 20""",
    "q371_fisher_separability" ->
      """WITH q AS (
           SELECT CAST(label AS BIGINT) AS lbl, i - 1 AS dim,
             CAST(floor(x * 1000000) AS BIGINT) AS xq
           FROM (SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS i,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
                 FROM embeddings)),
         lm AS (
           SELECT dim, lbl, count(*) AS n, sum(xq) AS sx,
             sum(CAST(xq AS HUGEINT) * xq) AS sxx
           FROM q GROUP BY 1, 2),
         dm AS (
           SELECT dim, sum(n) AS nn, sum(sx) AS sxt
           FROM lm GROUP BY 1),
         terms AS (
           SELECT lm.dim,
             (CAST(lm.sx AS HUGEINT) * nn - CAST(lm.n AS HUGEINT) * sxt)
             * (CAST(lm.sx AS HUGEINT) * nn
                - CAST(lm.n AS HUGEINT) * sxt)
             // (CAST(lm.n AS HUGEINT) * nn * nn) AS between_term,
             CAST(lm.sxx AS HUGEINT)
               - CAST(lm.sx AS HUGEINT) * lm.sx // lm.n AS within_term,
             nn
           FROM lm JOIN dm ON lm.dim = dm.dim)
         SELECT CAST(dim AS BIGINT) AS dim,
           CAST(max(nn) AS BIGINT) AS n_vectors,
           CAST(sum(between_term) * 1000000
             // greatest(CAST(1 AS HUGEINT), sum(within_term))
             AS BIGINT) AS fisher_ppm
         FROM terms GROUP BY dim""",

    "q386_knn_label_audit" -> {
      val projCols = (0 until NPlanes).map { j =>
        s"round(list_dot_product(CAST(embedding AS DOUBLE[]), " +
          s"${signsSql(j)}), 6) AS p$j"
      }.mkString(", ")
      val bucketTerms = (0 until NPlanes).map { j =>
        s"CASE WHEN $j < bits AND p$j >= 0 THEN ${1 << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH nb AS (
           SELECT greatest(4,
             length(format('{:b}', (count(*) - 1) // 125))) AS bits
           FROM embeddings),
         pr AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             $projCols
           FROM embeddings),
         bk AS (
           SELECT vec_id, label, v, ($bucketTerms) AS bucket
           FROM pr CROSS JOIN nb),
         pairs AS (
           SELECT x.vec_id AS a_id, x.label AS a_label,
             y.vec_id AS b_id, y.label AS b_label,
             round(list_cosine_similarity(x.v, y.v), 6) AS cos_r
           FROM bk x JOIN bk y
             ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         top5 AS (
           SELECT * FROM (
             SELECT p.*, row_number() OVER (
               PARTITION BY a_id ORDER BY cos_r DESC, b_id) AS rk
             FROM pairs p)
           WHERE rk <= 5),
         full5 AS (
           SELECT a_id FROM top5 GROUP BY a_id HAVING count(*) = 5),
         votes AS (
           SELECT t.a_id, t.a_label, t.b_label, count(*) AS c
           FROM top5 t JOIN full5 f USING (a_id)
           GROUP BY 1, 2, 3),
         maj AS (
           SELECT a_id, a_label, b_label AS maj_label, c AS maj_c
           FROM (SELECT v.*, row_number() OVER (
                   PARTITION BY a_id ORDER BY c DESC, b_label) AS rk
                 FROM votes v)
           WHERE rk = 1)
         SELECT CAST(a_label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(sum(CASE WHEN maj_label <> a_label AND maj_c >= 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
           CAST(sum(CASE WHEN maj_label <> a_label AND maj_c >= 3
                THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS suspect_ppm
         FROM maj
         GROUP BY 1 ORDER BY 1"""
    })
}
