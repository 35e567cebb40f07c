package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Text-analysis + deduplication operators for large-scale training-data
  * pipelines, exercised over the `documents` table: exact dedup,
  * bag-of-words fingerprinting, MinHash signatures + LSH banding with
  * candidate-pair generation, n-gram Jaccard, language-ID heuristics,
  * quality scoring and token statistics.
  *
  * Everything here is expressed with codegen'd built-ins (no UDFs): the
  * tokenize/shingle/minhash chain is `split`/`transform`/`md5`/`min`, so
  * Catalyst sees through the whole pipeline and the shuffles are only the
  * per-doc groupBys and the LSH band self-join.
  */
object TextOps extends QueryModule {
  /** 3-word shingles (requires >= 3 tokens; callers filter). */
  private val shinglesExpr =
    "transform(sequence(0, size(tokens) - 3), i -> concat_ws(' ', slice(tokens, i + 1, 3)))"

  /** Per-doc exploded shingle rows: (doc_id, shingle). */
  private[operators] def shingled(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .withColumn("tokens", words(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("shingle"))

  /** MinHash signature: 4 independent 8-hex-digit slots carved from ONE
    * md5 per shingle (quarters of the digest are independent uniform
    * hashes — one hash evaluation instead of four), min-folded per doc
    * by the native `minhash_sigs` Expression
    * (graft.functions.MinHashSigs): the whole document reduces inside
    * the scan task — one md5 per shingle, four 8-byte stack minima,
    * zero extra rows — where the previous relational form exploded
    * every shingle onto its own row and shuffled them into a 4-buffer
    * min aggregate. The signature stage is now map-only with NO
    * groupBy at all; bit-for-bit equal to the explode+min form
    * (MinHashSigsSpec proves it against the old formulation, and the
    * q36 DuckDB oracle still hash-matches). */
  private[operators] def minhashSigs(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .withColumn("tokens", words(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), expr("minhash_sigs(tokens)").as("sigs"))
      .select(col("doc_id"),
        expr("element_at(sigs, 1)").as("sig0"),
        expr("element_at(sigs, 2)").as("sig1"),
        expr("element_at(sigs, 3)").as("sig2"),
        expr("element_at(sigs, 4)").as("sig3"))

  /** 64-bit SimHash as four 16-bit bit-PLANES: plane j, char i holds
    * bit j of md5-hex-digit i (i = 1..16). All 64 bit-sums ride one
    * groupBy with map-side combine, and each plane renders as a 16-char
    * '0'/'1' string so band keys and Hamming checks stay portable
    * across engines. */
  /** Per-doc 4-plane SimHash signatures via the native
    * `simhash_planes` Expression (graft.functions.SimHashPlanes):
    * each document's tokens fold inside the scan task — one md5 per
    * token, 64 stack counters, zero extra rows — where the previous
    * relational form exploded every token onto its own row and
    * shuffled a token-count frame into a 64-buffer aggregate. The
    * signature stage is now map-only; bit-for-bit equal to the
    * explode+aggregate form (SimHashSpec proves it against the old
    * formulation, and the q48/q101 DuckDB oracles still hash-match).
    * Docs with no tokens are filtered first, matching the old
    * groupBy's behavior of emitting no row for them.
    */
  private def simhashPlanes(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(col("doc_id"), words(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), expr("simhash_planes(tk)").as("pl"))
      .select(col("doc_id"),
        element_at(col("pl"), 1).as("p0"),
        element_at(col("pl"), 2).as("p1"),
        element_at(col("pl"), 3).as("p2"),
        element_at(col("pl"), 4).as("p3"))

  private val stop = Seq("the", "a", "of", "and", "to")

  /** Degenerate LSH buckets above this size are dropped rather than
    * pair-expanded: a bucket of B docs emits B²/2 pairs, so one junk
    * signature (e.g. the empty-ish document cluster) would dominate the
    * whole job quadratically. 1000 never binds at the test scale
    * factors (buckets are tiny for honest signatures — the oracle runs
    * uncapped and still hash-matches); it is the production safety
    * valve, exercised by HotBucketSpec. */
  val MaxLshBucket = 1000

  /** MinHash-LSH candidate pairs (a_id < b_id) — q37, also the edge set
    * for near-dup clustering (GraphOps q87). Unpivots the two bands into
    * (band_id, band) rows, then generates pairs INSIDE each band bucket
    * (groupBy + collect_list + pair expansion) instead of a self-join:
    * the expensive shingle→minhash pipeline runs exactly once, and the
    * only shuffle is by band key. */
  def lshPairs(s: SparkSession, d: String): DataFrame =
    lshPairsOf(minhashSigs(s, d), MaxLshBucket)

  /** LSH candidate pairs with their EXACT shingle Jaccard in integer
    * ppm — the verify stage every dedup decision reads (q140/q291/q295
    * share it). Candidate-bounded: only docs in a candidate pair get
    * their shingle sets joined (broadcast id semi-filter), so the
    * exact pass scales with |candidates|, never the corpus. Returned
    * frame: (a_id, b_id, jac_ppm). The persisted intermediates (pairs,
    * filtered shingles) are deliberately NOT unpersisted here — the
    * terminal action runs at the caller — and are released at the
    * harness boundary per the cache-lifetime contract documented on
    * `GraftSession.releaseQueryCaches`.
    */
  def verifiedJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val pairs = lshPairs(s, d).persist()
    val candIds = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val sh = shingled(s, d).distinct()
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a_id", "b_id"), "left_outer")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")),
        "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        expr("(inter * 1000000) div (sza + szb - inter)").as("jac_ppm"))
  }

  /** Pair expansion from precomputed signatures, hot buckets capped. */
  def lshPairsOf(sigs: DataFrame, maxBucket: Int): DataFrame =
    sigs
      .select(col("doc_id"), explode(map(
        lit(0), md5(concat(col("sig0"), col("sig1"))),
        lit(1), md5(concat(col("sig2"), col("sig3")))))
        .as(Seq("band_id", "band")))
      .groupBy("band_id", "band")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1), y ->
               struct(x AS a_id, y AS b_id))))""")).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()

  /** Segment length (tokens) for the repetition signals (q210/q211) —
    * 3 on this short-doc corpus (real prose uses line/paragraph
    * boundaries); docs shorter than MinToks are below the gate. */
  private val SegLen = 3

  private val MinToks = 10

  private val segsExpr =
    s"""transform(sequence(0, int(ceil(size(t) / $SegLen.0)) - 1),
        i -> array_join(slice(t, i * $SegLen + 1, $SegLen), ' '))"""

  /** Tokens below this corpus frequency stay out of the graph
    * (TextRank's usual stopword/min-count gate — keeps |V| the
    * frequent vocabulary, bounded by content not corpus size). */
  private val MinCnt = 20

  /** Log-spaced cuts; the synthetic corpus has a 31-token vocabulary,
    * so the upper cuts legitimately emit no row (both engines drop
    * them) while the curve is still read at 5 points. */
  private val VocabCuts = Seq(1L, 3L, 10L, 30L, 100L, 300L)

  val queries: Map[String, Q] = Map(
    // ---- q140: MinHash sketch accuracy audit ---------------------------
    // For every LSH candidate pair: the Jaccard ESTIMATE the 4-slot
    // signature implies (matching slots / 4) next to the EXACT shingle
    // Jaccard, plus the absolute error. This is the sketch-quality
    // gate a dedup deployment runs before trusting MinHash at scale:
    // systematic over-estimation means the band/slot budget is wrong.
    // Exact scoring touches only candidate pairs (never all-pairs);
    // the signature table and the distinct shingle sets are persisted
    // — each feeds two consumers.
    "q140_minhash_accuracy" -> ((s, d) => {
      val sigs = minhashSigs(s, d).persist()
      val pairs = lshPairsOf(sigs, MaxLshBucket).persist()
      // The audit is candidate-bounded: only docs that appear in an LSH
      // pair need their exact shingle sets. Broadcast the candidate id
      // set and semi-filter BEFORE the exact-Jaccard joins, so the
      // corpus-wide shingle table is never shuffled — the exact pass
      // scales with |candidates|, not |corpus| (same discipline as the
      // q84 verify stage).
      val candIds = pairs.select(col("a_id").as("doc_id"))
        .union(pairs.select(col("b_id").as("doc_id"))).distinct()
      val sh = shingled(s, d).distinct()
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .persist()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = pairs
        .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
          Seq("b_id", "shingle"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      val a = sigs.select(col("doc_id").as("a_id"), col("sig0").as("a0"),
        col("sig1").as("a1"), col("sig2").as("a2"), col("sig3").as("a3"))
      val b = sigs.select(col("doc_id").as("b_id"), col("sig0").as("b0"),
        col("sig1").as("b1"), col("sig2").as("b2"), col("sig3").as("b3"))
      pairs.join(a, "a_id").join(b, "b_id")
        .withColumn("est_ppm",
          ((0 to 3).map(i => when(col(s"a$i") === col(s"b$i"), 1)
            .otherwise(0)).reduce(_ + _)).cast("long") * 250000)
        .join(inter, Seq("a_id", "b_id"), "left_outer")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")),
          "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")),
          "b_id")
        .withColumn("jac_ppm",
          expr("(inter * 1000000) div (sza + szb - inter)"))
        .select(col("a_id"), col("b_id"), col("est_ppm"), col("jac_ppm"),
          abs(col("est_ppm") - col("jac_ppm")).as("err_ppm"))
    }),

    // ---- P5/F11: regex predicate over document text --------------------
    "q27_regexp_filter" -> ((s, d) => {
      table(s, d, "documents")
        .filter(col("text").rlike("hash (join|agg)"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
    }),

    // ---- exact dedup: content-hash distinct counts ---------------------
    "q30_dedup_exact" -> ((s, d) => {
      val w = words(col("text"))
      table(s, d, "documents")
        .withColumn("bow",
          md5(concat_ws(" ", array_sort(array_distinct(w)))))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_text"),
          countDistinct(col("bow")).as("n_unique_bow"))
    }),

    // ---- A2-style key dedup on documents (deterministic survivor) ------
    "q31_dedup_by_key" -> ((s, d) => {
      val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      table(s, d, "documents")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // ---- token counting: whitespace + regex tokenizers -----------------
    "q32_token_stats" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("ws_tokens", size(words(col("text"))))
        .withColumn("re_tokens", regexp_count(col("text"), lit("[a-z]+")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("sum_ws_tokens"),
          sum("re_tokens").as("sum_re_tokens"),
          sum("n_chars").as("total_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
    }),

    // ---- quality scoring: lexical-diversity + stopword metrics ---------
    "q33_quality_score" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .withColumn("n_words", size(col("tokens")))
        .withColumn("n_unique", size(array_distinct(col("tokens"))))
        .withColumn("n_stop", size(filter(col("tokens"),
          w => w.isInCollection(stop))))
        .select(
          col("doc_id"), col("n_words"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_words"), 6)
            .as("unique_ratio"),
          round(col("n_stop").cast("double") / col("n_words"), 6)
            .as("stopword_ratio"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double")
            / col("n_words"), 6).as("avg_word_len"))
    }),

    // ---- language-ID heuristic: marker-word chain ----------------------
    // Per-language markers alternated into ONE regex each (the OR pairs
    // were separate rlike passes — 5 regex evaluations/row max instead
    // of 8, same predictions).
    // one tokenize pass + set membership — not six regex scans of the
    // raw text per row (the stopword-marker heuristic is about WORDS,
    // so membership in the token array is also the truer semantics)
    "q34_lang_id" -> ((s, d) => {
      val tk = col("tokens")
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .withColumn("predicted",
          when(array_contains(tk, "the") && array_contains(tk, "and"), "en")
            .when(arrays_overlap(tk, array(lit("der"), lit("und"))), "de")
            .when(arrays_overlap(tk, array(lit("el"), lit("los"))), "es")
            .when(arrays_overlap(tk, array(lit("le"), lit("les"))), "fr")
            .otherwise("und"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    }),

    // ---- document fingerprint: sorted bag-of-words content hash --------
    "q35_fingerprint_bow" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(words(col("text"))))))
            .as("fingerprint"))
    }),

    // ---- MinHash signatures over 3-word shingles -----------------------
    "q36_minhash_sig" -> ((s, d) => minhashSigs(s, d)),

    // ---- LSH banding: candidate near-dup pairs -------------------------
    // Two bands of two slots; docs sharing either band become candidates.
    // The band self-join is the only shuffle that grows with collisions.
    "q37_lsh_pairs" -> ((s, d) => lshPairs(s, d)),

    // ---- SimHash: 16-bit sign-of-sums signature ------------------------
    // bit i = sign of sum over tokens of ±1 by the high bit of the i-th
    // hex digit of md5(token). Near-dup docs agree on most bits; exact
    // grouping on the short signature is the candidate generator.
    // Explode+sum keeps everything in whole-stage codegen; the only
    // shuffle is the per-doc aggregation (map-side combined).
    "q48_simhash" -> ((s, d) => {
      // bit i from "hex digit i >= '8'" is exactly bit 3 of the digit —
      // plane 4 of the native simhash_planes kernel, so the signature
      // is computed map-only inside the scan (no token explode, no
      // shuffle; the old explode+16-aggregate form is SimHashSpec's
      // reference recompute).
      table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"),
          expr("element_at(simhash_planes(tk), 4)").as("simhash"))
    }),

    // ---- rolling-hash document fingerprint (winnowing-style min) -------
    "q50_rolling_fingerprint" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"),
          array_min(expr(
            """transform(sequence(1, greatest(length(text) - 7, 1)),
               i -> md5(substring(text, i, 8)))""")).as("fp"))
    }),

    // ---- TF-IDF (linear inverse-frequency variant): top-3 terms/doc ----
    // score = tf * N / df uses only integer-valued doubles — exact and
    // engine-portable, unlike ln() whose last-ulp varies by libm.
    "q64_tfidf_top_terms" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      // Corpus size N as a broadcast 1-row scalar join, NOT a driver
      // `.count()` — one plan, one pass over `toks` (a mid-plan count
      // is a second full tokenize of 100 TB for one literal).
      val n = toks.select(countDistinct("doc_id").as("n_total"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(df, "tok")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast("double") * col("n_total") / col("df"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "tok", "score", "rank")
    }),

    // ---- corpus-wide bigram frequency top-20 ---------------------------
    "q65_bigram_freq" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 2)
        .select(explode(expr(
          """transform(sequence(0, size(tokens) - 2),
             i -> concat_ws(' ', slice(tokens, i + 1, 2)))""")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // ---- deterministic train/val/test split (hash-stable: a doc keeps
    // its split forever, regardless of corpus growth or partitioning) --
    "q71_dataset_split" -> ((s, d) => {
      // bucket in 0..99 from the first two md5 hex digits via digit
      // position — portable (no hex-to-int builtin needed either side)
      def hexDigit(i: Int) =
        expr(s"locate(substring(md5(CAST(doc_id AS STRING)), $i, 1), " +
          "'0123456789abcdef') - 1")
      val bucket = (hexDigit(1) * 16 + hexDigit(2)) % 100
      table(s, d, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    }),

    // ---- stratified deterministic sample: 2 docs per (lang, source)
    // stratum by hash order — reproducible without a seed exchange ----
    "q72_stratified_sample" -> ((s, d) => {
      val w = Window.partitionBy("lang", "source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      table(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("lang", "source", "doc_id")
    }),

    // ---- data-quality profile: per-language column statistics ---------
    "q73_quality_profile" -> ((s, d) => {
      table(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n"),
          sum(col("text").isNull.cast("long")).as("null_text"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct("source").as("n_sources"))
    }),

    // ---- sensitive-term scrubbing (the PII-redaction machinery) --------
    // The pre-release scrub every training pipeline runs: count pattern
    // hits, mask them, fingerprint the scrubbed text — all codegen'd
    // built-ins (regexp_count / regexp_replace / md5), one pass. The
    // pattern is a parameter; the synthetic corpus contains no
    // emails/phones, so the oracle-checked instance masks two stand-in
    // terms with exactly the machinery a real PII pattern would use.
    "q88_redact_terms" -> ((s, d) => {
      val pat = "\\b(customer|value)\\b"
      table(s, d, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long")
            .as("n_redacted"),
          md5(regexp_replace(col("text"), pat, "<MASK>"))
            .as("redacted_md5"))
    }),

    // ---- token-budget training shards ----------------------------------
    // Pack documents into ~fixed-token-budget shards in a deterministic
    // hash order — what a training data loader consumes. Needs a GLOBAL
    // running token total; computed with the two-phase orderedCumsum
    // (range partition + local window + broadcast offsets), never a
    // single-partition window.
    "q93_token_shards" -> ((s, d) => {
      val budget = 2000L
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("ord",
          md5(concat(lit("seed42:"), col("doc_id").cast("string"))))
      orderedCumsum(docs, Seq("ord", "doc_id"), "n_tokens", "cum")
        .withColumn("shard",
          floor((col("cum") - col("n_tokens"))
            .cast("double") / budget).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    }),

    // ---- token-window chunking: the RAG / training-loader primitive ----
    // Split each document into overlapping fixed-size token windows
    // (size 64, stride 48) entirely map-side: tokenize, explode the
    // window starts, slice. Zero shuffle — at 100 TB this is the
    // embarrassingly parallel stage in front of tokenize/pack, and the
    // narrow (doc_id, idx, len, hash) output is what actually moves.
    "q94_chunk_windows" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) > 0)
        .select(col("doc_id"),
          posexplode(expr(
            """transform(sequence(0, int((size(tokens) - 1) / 48)),
               i -> slice(tokens, i * 48 + 1, 64))"""))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
    }),

    // ---- count-min-sketch heavy hitters --------------------------------
    // The bounded-memory alternative to an exact groupBy over an
    // unbounded token vocabulary: a 4×1024 counter matrix (rows =
    // independent hashes carved from one md5, like the MinHash slots)
    // built with ONE map-side-combinable groupBy whose key space is
    // fixed at 4096 cells regardless of corpus size. Probing takes
    // min over the 4 rows — overestimates only. The oracle replicates
    // the sketch exactly, so even the collision noise hash-matches.
    "q95_cms_heavy_hitters" -> ((s, d) => {
      val probes = Seq("scan", "column", "order", "merge", "join")
      def cells(tok: Column) = array((0 until 4).map(j =>
        struct(lit(j).as("j"),
          (conv(substring(md5(tok), j * 8 + 1, 8), 16, 10)
            .cast("long") % 1024).as("slot"))): _*)
      val toks = table(s, d, "documents")
        .select(explode(words(col("text"))).as("tok"))
      val cms = toks
        .select(explode(cells(col("tok"))).as("cell"))
        .groupBy(col("cell.j").as("j"), col("cell.slot").as("slot"))
        .agg(count(lit(1)).as("c"))
      val probeCells = toks.sparkSession.createDataFrame(
        probes.map(Tuple1(_))).toDF("tok")
        .select(col("tok"), explode(cells(col("tok"))).as("cell"))
        .select(col("tok"), col("cell.j").as("j"), col("cell.slot").as("slot"))
      val est = probeCells.join(broadcast(cms), Seq("j", "slot"))
        .groupBy("tok").agg(min("c").as("cms_est"))
      val truth = toks.filter(col("tok").isin(probes: _*))
        .groupBy("tok").agg(count(lit(1)).as("true_n"))
      truth.join(est, Seq("tok"))
    }),

    // ---- broadcast Bloom-filter decontamination ------------------------
    // q89 does exact train×bench 3-gram overlap with a shuffle hash
    // join on the shingle key. The 100 TB plan is the other way round:
    // build a Bloom filter (k=3 hashes, m=8192 bits, positions from
    // md5 quarters) over the SMALL benchmark side and broadcast it, so
    // the train side is screened entirely map-side with zero shuffle
    // of its shingles; only the tiny flagged remainder needs the exact
    // join. The filter is packed into a dense 128-word bitmask, so a
    // membership probe is O(1): element_at + shift + mask (an
    // array_contains over the raw position list scanned ~8k entries
    // per probe — 6× slower end-to-end at sf0.1). The bit layout is
    // portable (bit p ⇔ position p), so the oracle — which checks raw
    // position membership — reproduces false positives bit-for-bit.
    "q97_bloom_decontam" -> ((s, d) => {
      def pos(j: Int) =
        conv(substring(md5(col("shingle")), j * 8 + 1, 8), 16, 10)
          .cast("long") % 8192
      def bitTest(j: Int) = expr(
        s"""(shiftright(element_at(words, int(p$j div 64) + 1),
            int(p$j % 64)) & 1) = 1""")
      val sh = shingled(s, d)
      val words = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(array(pos(0), pos(1), pos(2))).as("p"))
        .agg(collect_set(col("p")).as("ps"))
        .select(expr(
          """transform(sequence(0, 127), i ->
               aggregate(filter(ps, p -> int(p div 64) = i),
                 CAST(0 AS BIGINT),
                 (acc, p) -> acc | shiftleft(CAST(1 AS BIGINT),
                                             int(p % 64))))""")
          .as("words"))
      sh.filter(col("doc_id") % 97 =!= 0)
        .withColumn("p0", pos(0)).withColumn("p1", pos(1))
        .withColumn("p2", pos(2))
        .crossJoin(broadcast(words))
        .withColumn("hit",
          (bitTest(0) && bitTest(1) && bitTest(2)).cast("long"))
        .groupBy("doc_id")
        .agg(sum("hit").as("n_hit_shingles"),
          count(lit(1)).as("n_shingles"))
        .filter(col("n_hit_shingles") > 0)
    }),

    // ---- benchmark decontamination: train/test n-gram overlap ----------
    // The pre-training hygiene pass: flag training docs sharing any
    // 3-gram shingle with a held-out benchmark set (here: every 97th
    // doc). Shingles are generated map-side on both sides; the overlap
    // is ONE hash join on the shingle key followed by a per-doc count —
    // no all-pairs stage, so it scales as corpus × matched shingles.
    "q89_contamination" -> ((s, d) => {
      val sh = shingled(s, d)
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(col("shingle")).distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          countDistinct("shingle").as("n_shingles_hit"))
    }),

    // ---- intra-document repetition score -------------------------------
    // Boilerplate/looping-junk signal: the share of 3-gram occurrences
    // that are repeats of an earlier 3-gram in the same document.
    // Pure per-row array math — map-side, no shuffle at all.
    "q90_repetition" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 3)
        .withColumn("sh", expr(shinglesExpr))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
          round((size(col("sh")) - size(array_distinct(col("sh"))))
            .cast("double") / size(col("sh")), 6).as("repetition"))
    }),

    // ---- n-gram Jaccard similarity on candidate pairs ------------------
    "q38_jaccard_pairs" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), array_sort(array_distinct(words(col("text"))))
          .as("wset"))
      val a = docs.select(col("doc_id").as("a_id"), col("wset").as("a_set"))
      val b = docs.select(col("doc_id").as("b_id"), col("wset").as("b_set"))
      a.join(b, col("a_id") + 1 === col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(
            size(array_intersect(col("a_set"), col("b_set"))).cast("double")
              / size(array_union(col("a_set"), col("b_set"))), 6)
            .as("jaccard"))
    }),

    // ---- unigram LM quality score (perplexity proxy) -------------------
    // Two passes: (1) corpus unigram counts — one groupBy with map-side
    // combine, vocabulary-sized output; (2) score every token by its
    // corpus log-probability via a BROADCAST vocab join (at 100 TB the
    // broadcast is the top-V vocabulary + an OOV floor; here the full
    // vocab IS tiny). Per-token scores are floored to integer
    // micro-nats, so the per-doc sums are exact integer arithmetic —
    // order-independent and engine-portable, where raw double sums
    // would drift in the last ulp between engines.
    "q99_unigram_logprob" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      // persisted: the (tiny) vocab feeds BOTH the broadcast join and
      // the total — without it each subtree re-scans the token stream
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(broadcast(vocab), "tok")
        .crossJoin(broadcast(total))
        .withColumn("micro",
          floor(log(col("cnt").cast("double") / col("total").cast("double"))
            * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum("micro").as("logprob_micro"))
        .select(col("doc_id"), col("n_toks"), col("logprob_micro"),
          floor(col("logprob_micro").cast("double") / col("n_toks"))
            .cast("long").as("avg_micro"))
    }),

    // ---- cross-document duplicated spans (exact substring dedup) -------
    // The discovery stage of exact-substring dedup (the "memorized
    // span" pass): every 5-token window, hashed and counted across the
    // corpus; spans seen in ≥2 distinct documents come back with their
    // document- and occurrence-counts. One shuffle on the span key with
    // map-side partial aggregation; output is bounded by the number of
    // ACTUALLY duplicated spans, never the corpus. A 100 TB run keys by
    // the span hash only (the span text stays with a sample doc);
    // oracle-portability keeps the literal span here.
    "q100_dup_spans" -> ((s, d) => {
      table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(tokens) - 5),
             i -> concat_ws(' ', slice(tokens, i + 1, 5)))""")).as("span"))
        .groupBy("span")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
    }),

    // ---- SimHash near-dup: banded buckets + Hamming verify -------------
    // The SimHash analogue of q84's LSH→cosine: 64-bit signatures
    // (4 bit-planes over the first 16 md5 hex digits — 64 sums in ONE
    // map-side-combinable aggregation), banded into two 32-bit keys so
    // candidates are docs agreeing on half the signature; only
    // candidates get the exact 64-bit Hamming check (≤8 bits ⇒
    // near-dup). Buckets are hot-capped like LSH; the pair stage is
    // bounded by bucket size, never corpus size.
    "q101_simhash_neardup" -> ((s, d) => {
      val sigs = simhashPlanes(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = sigs
        .select(col("doc_id"), explode(map(
          lit(0), concat(col("p0"), col("p1")),
          lit(1), concat(col("p2"), col("p3"))))
          .as(Seq("band_id", "band")))
        .groupBy("band_id", "band")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxLshBucket)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
               transform(slice(ids, i + 2, size(ids) - i - 1), y ->
                 struct(x AS a_id, y AS b_id))))""")).as("p"))
        .select(col("p.a_id"), col("p.b_id"))
        .distinct()
      val l = (0 to 3).foldLeft(
        sigs.withColumnRenamed("doc_id", "a_id"))((f, j) =>
        f.withColumnRenamed(s"p$j", s"l$j"))
      val r = (0 to 3).foldLeft(
        sigs.withColumnRenamed("doc_id", "b_id"))((f, j) =>
        f.withColumnRenamed(s"p$j", s"r$j"))
      val hamming = (0 to 3).map(j => expr(
        s"""size(filter(sequence(1, 16),
            i -> substring(l$j, i, 1) <> substring(r$j, i, 1)))"""))
        .reduce(_ + _)
      pairs.join(l, "a_id").join(r, "b_id")
        .withColumn("hamming", hamming.cast("long"))
        .filter(col("hamming") <= 8)
        .select("a_id", "b_id", "hamming")
    }),

    // ---- quality-weighted importance sampling --------------------------
    // Deterministic per-row accept/reject with P(keep) = min(1,
    // n_chars/400): u is 16 uniform bits from the doc's seeded md5, and
    // the accept test `u * 400 < min(n_chars,400) * 65536` is PURE
    // INTEGER arithmetic — no float threshold, so the sample is
    // bit-identical on any engine, any partitioning, any corpus growth
    // (adding documents never flips an existing decision — the same
    // property the q71 split relies on). Entirely map-side.
    "q102_weighted_sample" -> ((s, d) => {
      def hexDigit(i: Int) = expr(
        s"locate(substring(md5(concat('wsample:', CAST(doc_id AS STRING))), $i, 1), " +
          "'0123456789abcdef') - 1")
      val u = (((hexDigit(1) * 16 + hexDigit(2)) * 16 + hexDigit(3)) * 16
        + hexDigit(4)).cast("long")
      table(s, d, "documents")
        .withColumn("u16", u)
        .filter(col("u16") * 400 < least(col("n_chars"), lit(400L)) * 65536)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // ---- per-source token-budget mixture -------------------------------
    // Data-mixture construction: each source contributes documents in a
    // deterministic hash order until its token budget fills (greedy
    // prefix — the last doc may straddle the boundary). The running
    // per-source total uses groupedOrderedCumsum: the grouped variant
    // of the q93 two-phase prefix sum, so no source ever funnels
    // through a single-partition window regardless of its size.
    "q103_source_mixture" -> ((s, d) => {
      val budget = 3000L
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("ord",
          md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      groupedOrderedCumsum(docs, Seq("source"), Seq("ord", "doc_id"),
          "n_tokens", "cum")
        .filter(col("cum") - col("n_tokens") < budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens_kept"))
    }),

    // ---- incremental ingest dedup --------------------------------------
    // The production shape of dedup: a NEW batch (odd doc_ids here)
    // screened against the EXISTING corpus (even doc_ids) — exact
    // duplicates by content hash, near-duplicates by sharing a MinHash-
    // LSH band with any existing doc. Both screens are semi-joins on
    // precomputed keys (hash / band), so incremental cost is
    // O(batch + matched keys), never a rescan-and-recluster of the
    // whole corpus; band signatures of the existing side are exactly
    // what a real deployment keeps as its standing dedup index.
    "q105_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sigB = minhashSigs(s, d)
        .select(col("doc_id"), explode(map(
          lit(0), md5(concat(col("sig0"), col("sig1"))),
          lit(1), md5(concat(col("sig2"), col("sig3")))))
          .as(Seq("band_id", "band")))
      val exBands = sigB.filter(col("doc_id") % 2 === 0)
        .select("band_id", "band").distinct()
      val nearIds = sigB.filter(col("doc_id") % 2 === 1)
        .join(exBands, Seq("band_id", "band"), "left_semi")
        .select("doc_id").distinct()
      val exHash = docs.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("h")).distinct()
      val exactIds = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(exHash, Seq("h"), "left_semi")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 2 === 1).select("doc_id")
        .join(exactIds.withColumn("e", lit(1L)), Seq("doc_id"), "left_outer")
        .join(nearIds.withColumn("nd", lit(1L)), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("e"), lit(0L)).as("exact_dup"),
          coalesce(col("nd"), lit(0L)).as("near_dup"),
          when(coalesce(col("e"), lit(0L)) === 1, "drop_exact")
            .when(coalesce(col("nd"), lit(0L)) === 1, "review_near")
            .otherwise("keep").as("action"))
    }),

    // ---- winnowing fingerprints + containment (MOSS-style) -------------
    // Local substring-overlap detection — the dedup family's answer to
    // "these two docs share a paragraph" (which whole-doc MinHash
    // misses): 24-char k-gram hashes, windows of 8, fingerprint = the
    // window MIN (winnowing guarantees any shared run ≥ 31 chars
    // contributes a shared fingerprint). Candidate pairs come from an
    // inverted fingerprint index (groupBy fp, hot-capped) — never an
    // all-pairs scan — and multiplicity IS the shared-fingerprint
    // count, so containment needs only a per-doc size join on top.
    "q106_winnow_containment" -> ((s, d) => {
      val fps = table(s, d, "documents")
        .withColumn("hl", expr(
          """transform(sequence(1, greatest(length(text) - 23, 1)),
             i -> md5(substring(text, i, 24)))"""))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, greatest(size(hl) - 7, 1)),
             j -> array_min(slice(hl, j, 8)))""")).as("fp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("a_nfp"))
        .withColumnRenamed("doc_id", "a_id")
      fps.groupBy("fp")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxLshBucket)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
               transform(slice(ids, i + 2, size(ids) - i - 1), y ->
                 struct(x AS a_id, y AS b_id))))""")).as("p"))
        .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .join(sizes, "a_id")
        .select(col("a_id"), col("b_id"), col("n_shared"),
          round(col("n_shared").cast("double") / col("a_nfp"), 6)
            .as("containment"))
    }),

    // ---- corpus drift: per-term KL divergence between source halves ----
    // The distribution-shift monitor a curation pipeline runs between
    // crawls / sources: unigram distributions of two source groups,
    // add-one smoothed over the joint vocabulary, and the top terms by
    // KL contribution p_a * ln(p_a/p_b). Counts ride ONE token shuffle
    // with map-side combine (conditional sums per side); the vocab is
    // persisted so the totals pass doesn't re-scan the token stream
    // (same rule as q99). Contributions are floored to integer
    // micro-nats so the cross-engine compare is exact; intermediate
    // state is vocab-sized, never corpus-sized, at any scale.
    "q109_term_drift" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .withColumn("side",
          expr("cast(substring(source, 4) as int) % 2"))
        .select(col("side"), explode(words(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok")
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("cnt_a"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cnt_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val totals = vocab.agg(sum("cnt_a").as("tot_a"),
        sum("cnt_b").as("tot_b"), count(lit(1)).as("v"))
      val pa = (col("cnt_a") + 1).cast("double") / (col("tot_a") + col("v"))
      val pb = (col("cnt_b") + 1).cast("double") / (col("tot_b") + col("v"))
      vocab.crossJoin(broadcast(totals))
        .withColumn("kl_micro",
          floor(pa * log(pa / pb) * 1e6).cast("long"))
        .select("tok", "cnt_a", "cnt_b", "kl_micro")
        .orderBy(col("kl_micro").desc, col("tok").asc)
        .limit(25)
    }),

    // ---- n-gram novelty: how much of each doc is corpus-unique --------
    // The memorization / boilerplate meter: the share of a document's
    // distinct 3-token shingle TYPES that occur in no other document.
    // NO join-back: a df==1 shingle has exactly ONE owning doc, so the
    // frequency pass carries min(doc_id) and the unique counts aggregate
    // straight to doc grain — the corpus-sized shingle table is never
    // joined against anything. r09 shipped the join-back form
    // (sh JOIN freq ON shingle -> groupBy doc) and it DRIFTED at sf1
    // (11.1x growth for 10x data vs the oracle's 6.5x): the join
    // re-shuffled the fat table a second time and materialized a
    // corpus-sized intermediate. This form is two aggregations over the
    // persisted distinct shingle set plus one doc-grain join whose both
    // sides are #docs rows — at 100 TB the only corpus-sized shuffles
    // are the distinct and the two groupBys, all with map-side combine.
    "q110_ngram_novelty" -> ((s, d) => {
      val sh = shingled(s, d).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val uniq = sh.groupBy("shingle")
        .agg(count(lit(1)).as("df"), min("doc_id").as("only_doc"))
        .filter(col("df") === 1)
        .groupBy(col("only_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_unique"))
      perDoc.join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          floor(coalesce(col("n_unique"), lit(0L)) * 1000.0
            / col("n_shingles")).cast("long").as("novelty_pm"))
    }),

    // ---- hashing-trick featurization (16-slot bag of words) ------------
    // The classic fixed-width featurizer in front of linear quality
    // classifiers: slot = first md5 hex digit of the token (uniform
    // 16-way, portable across engines), dense counts per doc as 16
    // conditional sums riding ONE shuffle with map-side combine —
    // the output is exactly (n_docs x 16) longs however wide the
    // corpus is, and nothing in the plan is per-vocabulary.
    "q111_feature_hash" -> ((s, d) => {
      val slots = table(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
        .withColumn("slot",
          conv(substring(md5(col("tok")), 1, 1), 16, 10).cast("int"))
      val sums = (0 until 16).map(j =>
        sum(when(col("slot") === j, 1L).otherwise(0L)).as(s"s$j"))
      slots.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    }),

    // ---- deterministic global shuffle (epoch permutation) --------------
    // The "shuffle the corpus once per epoch, reproducibly" loader
    // contract: a stable global position for every doc under a seeded
    // md5 order. The position is the distributed orderedCumsum of 1
    // (range partition + local prefix sums + broadcast offsets) — a
    // total-order row_number with NO single-partition window, so the
    // permutation costs one range shuffle at any corpus size and is
    // identical however the input was partitioned.
    "q116_epoch_shuffle" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("ord",
          md5(concat(lit("epoch7:"), col("doc_id").cast("string"))))
        .withColumn("one", lit(1L))
      orderedCumsum(docs, Seq("ord", "doc_id"), "one", "pos")
        .select(col("doc_id"), col("source"), (col("pos") - 1).as("pos"))
    }),

    // ---- BM25 relevance scoring against a fixed query ------------------
    // The retrieval primitive of targeted curation ("find the docs about
    // X in 100 TB"): Lucene-shaped BM25 (k1=1.2, b=0.75) of a constant
    // 5-term query. Everything that touches the corpus is one pass:
    // doc length map-side next to the tokenize, the term-frequency
    // groupBy keyed on (doc, term) over the FILTERED token stream (only
    // query-term hits shuffle — the 100 TB corpus does not), df and the
    // (N, total-length) scalars broadcast back. Per-term scores are
    // floored to integer micro-units before the per-doc sum so the
    // result is order-independent and engine-exact.
    "q115_bm25" -> ((s, d) => {
      val qTerms = Seq("scan", "column", "merge", "join", "order")
      val docs = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          col("toks"))
      val stats = docs.agg(count(lit(1)).as("n"), sum("dl").as("tot"))
      // persisted: tf feeds BOTH the df pass and the scoring join —
      // without it the df subtree re-tokenizes the whole corpus
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(qTerms: _*))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val avgdl = col("tot").cast("double") / col("n")
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
      val denom = col("tf") +
        lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / avgdl)
      tf.join(broadcast(df), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("micro",
          floor(lit(1e6) * idf * (col("tf") * 2.2) / denom).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"), sum("micro").as("score_micro"))
    }),

    // ---- concat-and-chunk packing manifest -----------------------------
    // The training-loader contract: documents concatenated in a
    // deterministic shuffled order and cut into fixed 512-token
    // sequences; each doc's manifest row says which sequences it lands
    // in (docs straddle cut points — that's the point of packing). The
    // global offset is the distributed orderedCumsum (range-partition +
    // partition-local prefix sums + tiny offset broadcast), so there is
    // no single-partition window anywhere and the manifest is a pure
    // map over the cumsum output at any corpus size.
    "q113_pack_manifest" -> ((s, d) => {
      val seqLen = 512L
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("ord",
          md5(concat(lit("pack:"), col("doc_id").cast("string"))))
      orderedCumsum(docs, Seq("ord", "doc_id"), "n_tokens", "cum")
        .select(col("doc_id"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")).cast("double") / seqLen)
            .cast("long").as("start_seq"),
          floor((col("cum") - 1).cast("double") / seqLen)
            .cast("long").as("end_seq"))
        .withColumn("n_seqs", col("end_seq") - col("start_seq") + 1)
    }),

    // ---- boilerplate detection: per-source high-DF shingles ------------
    // The CCNet/RefinedWeb boilerplate pass: a bigram shingle that
    // recurs across >= 20% of one source's documents is template
    // chrome (nav bars, footers, cookie banners), not content; each
    // doc is scored by the fraction of its shingle OCCURRENCES that
    // are boilerplate. Shuffles: one distinct + count keyed by
    // (source, shingle), one marker join back on the same key — both
    // land on the same partitioning, and the per-source boilerplate
    // set is df-bounded (a shingle needs >= 0.2·|source| docs, so at
    // most 5 boilerplate shingles per document-slot) so the marker
    // side stays broadcastable at any corpus size. All-integer ppm
    // ratio; ns >= 10 guards the tiny-source degenerate case.
    "q148_boilerplate" -> ((s, d) => {
      val occ = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(0, size(tokens) - 2),
             i -> concat_ws(' ', slice(tokens, i + 1, 2)))""")).as("sg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      occ.count() // materialize once: feeds ns, sdf, and the marker join
      val ns = occ.groupBy("source")
        .agg(countDistinct("doc_id").as("ns"))
      val boiler = occ.select("source", "sg", "doc_id").distinct()
        .groupBy("source", "sg").agg(count(lit(1)).as("df"))
        .join(broadcast(ns), "source")
        .filter(col("df") * 100 >= col("ns") * 20 && col("ns") >= 10)
        .select(col("source"), col("sg"), lit(1L).as("is_b"))
      occ.join(broadcast(boiler), Seq("source", "sg"), "left_outer")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("is_b"), lit(0L))).as("n_boiler"))
        .withColumn("ratio_ppm",
          expr("(n_boiler * 1000000L) div n_sh"))
    }),

    // ---- target-mixture reweighting: per-lang sampling rates -----------
    // The DoReMi/Pile-style mixture step: given target language
    // weights (ppm), each language's Bernoulli keep-rate is
    // rate = min(1, weight · total_tokens / lang_tokens) — an
    // over-represented language is down-sampled toward its target
    // share, an under-represented one is kept whole (rate caps at 1;
    // re-weighting up happens at the training sampler, not by
    // duplicating data). Membership is decided by a multiplicative
    // hash of doc_id, so the sample is stable under corpus growth
    // (the q71 split property) and reproducible on any engine — no
    // rand() anywhere. Aggregates are two tiny shuffles on lang; the
    // per-doc keep decision is map-side codegen.
    "q149_mixture_reweight" -> ((s, d) => {
      val w = 200000L // uniform 5-lang target, ppm
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val perLang = docs.groupBy("lang")
        .agg(sum("n_tokens").as("lang_tokens"))
      val total = perLang.agg(sum("lang_tokens").as("total_tokens"))
      val rates = perLang.crossJoin(broadcast(total))
        .withColumn("rate_ppm",
          least(lit(1000000L),
            expr(s"($w * total_tokens) div lang_tokens")))
        .select("lang", "lang_tokens", "rate_ppm")
      docs
        .join(broadcast(rates), "lang")
        .filter(pmod(col("doc_id") * lit(2654435761L), lit(1000000L))
          < col("rate_ppm"))
        .groupBy("lang", "lang_tokens", "rate_ppm")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_tokens").as("kept_tokens"))
    }),

    // ---- incremental aggregate maintenance -----------------------------
    // The 100 TB posture for a refreshing corpus: never recompute the
    // corpus-wide aggregate from scratch — aggregate the (small) delta
    // partition and merge it into the standing base aggregate with a
    // full-outer coalesce-sum. The ORACLE for this query is the plain
    // one-shot aggregate over everything, so the driver's hash-compare
    // is itself the proof that merge(base, delta) == full recompute —
    // the algebraic property incremental maintenance rests on
    // (aggregates here are sum/count, both commutative monoids).
    "q151_incremental_agg" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast("long").as("n_tokens"))
      def agg(part: DataFrame): DataFrame = part.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      val base = agg(docs.filter(pmod(col("doc_id"), lit(10)) < 8))
      val delta = agg(docs.filter(pmod(col("doc_id"), lit(10)) >= 8))
      base.select(col("source"), col("n_docs").as("bn"), col("tokens").as("bt"))
        .join(delta.select(col("source"), col("n_docs").as("dn"),
          col("tokens").as("dt")), Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("bt"), lit(0L)) + coalesce(col("dt"), lit(0L)))
            .as("tokens"))
    }),

    // ---- OOV rate against a fixed top-K vocabulary ---------------------
    // Tokenizer-coverage audit: how much of each document falls outside
    // the top-20 corpus vocabulary (count desc, token asc tie-break —
    // fully deterministic). The vocab is a broadcast left-semi-style
    // marker join; per-doc reduce has map-side combine. At real scale
    // the vocab is 10k-100k entries — still broadcast-sized, same plan.
    "q153_oov_rate" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(20)
        .select(col("tok"), lit(1L).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(n_oov * 1000000L) div n_toks"))
    }),

    // ---- DSIR importance weights: hashed-unigram log-ratio -------------
    // Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): score every raw document by how much more
    // likely its unigrams are under a target (high-quality) LM than
    // under the raw-corpus LM — weight = Σ log p_target(w) − log
    // p_raw(w), add-one smoothed. The target here is the src0-src3
    // slice; integer micro-nats (the q99 floor(ln·1e6) trick) keep
    // the cross-engine sum bit-exact. At web scale the vocab is
    // hashed to ~10k buckets before counting (the paper's hashed
    // n-gram trick) — the synthetic vocab is already tiny, so the
    // bucket step would only obscure the oracle; both count shuffles
    // key on the token and the per-doc reduce keys on doc_id, each
    // with map-side combine, and the smoothed vocab rides to the
    // scorers as one broadcast.
    "q150_dsir_weights" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(words(col("text"))).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks.count()
      val tgt = toks.filter(col("source").isin("src0", "src1", "src2", "src3"))
      val vocabAll = toks.groupBy("tok").agg(count(lit(1)).as("cnt_r"))
      val vocabTgt = tgt.groupBy("tok").agg(count(lit(1)).as("cnt_t"))
      // smoothed vocab: every raw token gets cnt_t >= 0 via left join
      val vocab = vocabAll.join(vocabTgt, Seq("tok"), "left_outer")
        .withColumn("cnt_t", coalesce(col("cnt_t"), lit(0L)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = vocab.agg(sum("cnt_r").as("tot_r"), sum("cnt_t").as("tot_t"),
        count(lit(1)).as("v"))
      val scored = vocab.crossJoin(broadcast(sizes))
        .withColumn("micro",
          floor(log((col("cnt_t") + 1).cast("double")
              / (col("tot_t") + col("v")).cast("double")) * 1e6)
            .cast("long")
          - floor(log((col("cnt_r") + 1).cast("double")
              / (col("tot_r") + col("v")).cast("double")) * 1e6)
            .cast("long"))
        .select("tok", "micro")
      toks.join(broadcast(scored), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum("micro").as("weight_micro"))
    }),

    // ---- q157: bigram-LM fluency scoring -------------------------------
    // KenLM-style perplexity filtering, reduced to the distributable
    // core: train add-k-smoothed bigram counts on the corpus itself,
    // then score every document by its average bigram log-likelihood
    // log((c(w1,w2)+0.5) / (c(w1·)+0.5·V)). Gibberish and boilerplate
    // score far below fluent text — the CCNet/Gopher "perplexity
    // bucket" signal. One pass builds the counts (the occurrence
    // stream is persisted: it feeds bigram counts, context counts,
    // and the scoring join); scoring shuffles on the bigram key —
    // the bigram table grows with CONTENT, so it is NOT broadcast,
    // while the unigram context table is vocabulary-bounded and is.
    // Integer micro-nats (q99's floor(ln·1e6) trick) keep the
    // per-doc sums bit-exact across engines at any parallelism.
    "q157_bigram_lm" -> ((s, d) => {
      val occ = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(tokens) - 2),
             i -> struct(tokens[i] AS w1,
                         concat_ws(' ', slice(tokens, i + 1, 2)) AS bg))"""))
          .as("p"))
        .select(col("doc_id"), col("p.w1"), col("p.bg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      occ.count() // materialize once: feeds both count tables + scoring
      val bgCnt = occ.groupBy("bg").agg(count(lit(1)).as("c12"))
      val w1Cnt = occ.groupBy("w1").agg(count(lit(1)).as("c1"))
      val v = w1Cnt.agg(count(lit(1)).as("vv"))
      occ.join(bgCnt, "bg")
        .join(broadcast(w1Cnt), "w1")
        .crossJoin(broadcast(v))
        .withColumn("micro",
          floor(log((col("c12") + lit(0.5))
              / (col("c1") + lit(0.5) * col("vv"))) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bg"), sum("micro").as("ll_micro"))
        .select(col("doc_id"), col("n_bg"), col("ll_micro"),
          floor(col("ll_micro").cast("double") / col("n_bg"))
            .cast("long").as("avg_micro"))
    }),

    // ---- q158: Unicode NFC canonicalization (native expression) --------
    // Dedup keys and equality joins over web text break when the same
    // word arrives composed (é) from one encoder and decomposed
    // (e + U+0301) from another — canonically equivalent, byte-
    // different. `nfc_normalize` is the engine's native codegen'd
    // Catalyst expression (functions/NfcNormalize.scala): one
    // isNormalized scan on the (overwhelmingly already-NFC) fast
    // path, zero UDF/serialization cost, stays inside whole-stage
    // codegen. The query plants decomposed sequences and checks the
    // composed result + code-point length against DuckDB's
    // nfc_normalize.
    "q158_nfc_norm" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      table(s, d, "part")
        .select(col("p_partkey"),
          expr("nfc_normalize(concat(p_name, ' cafe\u0301 nin\u0303o'))")
            .as("name_nfc"))
        .withColumn("n_cp", length(col("name_nfc")).cast("long"))
    }),

    // ---- q160: exact similarity self-join via prefix filtering ---------
    // AllPairs/PPJoin-style EXACT Jaccard join — the deterministic
    // complement to MinHash-LSH (q37/q84): no false negatives by
    // construction. Tokens are globally ordered rarest-first; a pair
    // with J(A,B) >= t must share a token inside each side's first
    // |S| - ceil(t·|S|) + 1 tokens (prefix-filter lemma), so only
    // prefix tokens are exploded as candidate keys. Rarest-first
    // ordering makes candidate buckets the SMALLEST possible ones —
    // hot stopword postings never become join keys, which is what
    // keeps the self-join linear-ish at 100 TB. Verification joins
    // the full sets only for candidates; the threshold test is exact
    // integer arithmetic (inter·5 >= union·4, t = 4/5). The oracle is
    // an independent brute-force token-join — candidate pruning
    // cannot hide a missed pair.
    "q160_prefix_jaccard_join" -> ((s, d) => {
      val t5 = 4 // threshold t = t5/5 = 0.8
      // PPJoin (Xiao et al., WWW 2008) with the per-doc state kept as
      // SORTED ARRAYS instead of exploded rows: the prefix is a `slice`,
      // the verify step is `array_intersect` — map-side array kernels
      // replace two per-doc windows and a 3-way exploded intersection
      // join (the plan drops from ~9 shuffles to 5, and the only frames
      // ever shuffled are (tok,df) pairs, the tiny prefix postings, and
      // the candidate pairs — never the full token incidence twice).
      val docs = table(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"),
          array_distinct(words(col("text"))).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // global df rank: rarest-first token order makes the prefix the
      // rarest tokens, which is what bounds the candidate posting lists
      val freq = docs.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      // per-doc sorted token array (df asc, tok asc) via ONE groupBy:
      // struct sort order = field order, so array_sort on (df, tok)
      // structs gives exactly the window's (df, tok) ranking
      val sorted = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
        .join(freq, "tok")
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
          .as("ranked"))
        .select(col("doc_id"),
          expr("transform(ranked, r -> r.tok)").as("toks"),
          size(col("ranked")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // prefix length p = n - ceil(t*n) + 1, in exact integers; the
      // token's 0-based position rides along for the positional filter
      val prefix = sorted.select(col("doc_id"), col("n"),
        posexplode(expr(s"slice(toks, 1, n - (n * $t5 + 4) div 5 + 1)")))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      // candidate thinning BEFORE the distinct and the two full-array
      // verify joins (r09 measured 19.7x sf1 growth with bare prefix
      // matching — the candidate set was the by-construction-linear
      // cost). Both filters are PPJoin's own (Xiao et al., WWW 2008):
      //  - length: J >= t forces t*|A| <= |B| <= |A|/t;
      //  - positional: tokens at/after the shared prefix position bound
      //    the overlap by 1 + min(na-pa-1, nb-pb-1), and J >= t5/5
      //    needs intersection >= ceil(t5*(na+nb)/(5+t5)) — integer-
      //    exact as 9*ubound >= 4*(na+nb) for t = 4/5.
      val cand = prefix.as("a")
        .join(prefix.as("b"), Seq("tok"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .filter(col("a.n") * t5 <= col("b.n") * 5 &&
          col("b.n") * t5 <= col("a.n") * 5)
        .filter((lit(1) + least(col("a.n") - col("a.p") - 1,
          col("b.n") - col("b.p") - 1)) * (5 + t5)
          >= (col("a.n") + col("b.n")) * t5)
        .select(col("a.doc_id").as("a_id"), col("a.n").as("na"),
          col("b.doc_id").as("b_id"), col("b.n").as("nb"))
        .distinct()
      // verify: exact intersection as a map-side array kernel over the
      // two candidates' sorted token sets
      cand
        .join(sorted.select(col("doc_id").as("a_id"),
          col("toks").as("a_toks")), "a_id")
        .join(sorted.select(col("doc_id").as("b_id"),
          col("toks").as("b_toks")), "b_id")
        .withColumn("inter",
          size(array_intersect(col("a_toks"), col("b_toks"))).cast("long"))
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * t5)
        .select(col("a_id"), col("b_id"),
          round(col("inter").cast("double") / col("uni"), 6).as("jac"))
    }),

    // ---- generalized suffix array (prefix doubling) ---------------------
    // The index structure behind exact-substring dedup at corpus scale
    // (Lee et al. "Deduplicating Training Data Makes Language Models
    // Better" builds suffix arrays; q100/q172's span hashing is the
    // probabilistic cousin). Manber–Myers prefix doubling re-expressed
    // as log2(max doc length) rounds of pure relational work: each round
    // pairs every suffix's rank with the rank k positions ahead (a self
    // equi-join on (doc, pos+k)), then dense-ranks the pairs with the
    // distributed two-phase rank (distinct keys → range-partitioned
    // prefix sums → join back; no single-partition window anywhere).
    // State per round is one (doc, pos, rank) triple per corpus CHARACTER
    // — the honest cost of a suffix array; production builds shard it
    // per document group exactly like this deterministic doc_id slice.
    "q182_suffix_array" -> ((s, d) => {
      // fixed 10-doc slice at every sf (q46-style): the driver gate
      // checks exactness; the slice keeps the per-character rounds
      // bounded while the corpus grows
      val docs = table(s, d, "documents")
        .filter(col("doc_id") < 500 &&
          pmod(col("doc_id"), lit(50)) === 0 && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      suffixArray(docs)
    }),

    // ---- longest repeated substrings via SA + LCP ----------------------
    // The suffix array's payoff query: the longest substring occurring
    // twice anywhere in the corpus slice is the max LCP of RANK-ADJACENT
    // suffixes (two suffixes' common prefix is at most the pairwise min
    // along the rank path between them), so after q182's O(chars) index
    // the repeats scan is ONE self-join on rank — never all suffix pairs.
    // LCP is computed on a 128-char window (reported repeats cap at 128;
    // the cap is part of the operator contract, not silent truncation)
    // with a codegen'd fold — no per-char explode, no UDF.
    "q183_lcp_repeats" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .filter(col("doc_id") < 500 &&
          pmod(col("doc_id"), lit(50)) === 0 && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      lcpRepeats(docs)
    }),

    // ---- q186: Aho–Corasick blocklist match ----------------------------
    // q186 multi-pattern blocklist match: an Aho–Corasick automaton
    // ([[graft.functions.AhoCorasick]]) built once from the pattern
    // dimension and broadcast, so every document is scanned ONCE
    // regardless of how many patterns the blocklist holds.
    // Pattern dimension = the 20 most frequent ≥4-char tokens (count
    // desc, token asc — deterministic). The dimension is collected
    // (bounded: exactly 20 rows — a driver-side dim build, same class
    // as the ANN query vector), compiled into ONE automaton, broadcast,
    // and each document's text is scanned once; per doc the automaton
    // yields the distinct patterns present, and a final groupBy counts
    // containing docs per pattern. At 100 TB the pattern list can grow
    // to 10k+ terms with ZERO change to the per-document cost — the
    // oracle's contains()-per-term plan degrades linearly in |patterns|.
    "q186_multi_pattern" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      val terms: Seq[String] = docs
        .select(explode(filter(split(lower(col("text")), " "),
          w => length(w) >= 4)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(20)
        .select("token").as[String].collect().toSeq
      val bcAc = s.sparkContext.broadcast(
        graft.functions.AhoCorasick.build(terms))
      val termArr = terms.toArray
      docs.select(lower(col("text")).as("text")).as[String]
        .flatMap(t => bcAc.value.matchedPatterns(t).map(termArr(_)))
        .toDF("term")
        .groupBy("term").agg(count(lit(1)).as("n_docs"))
    }),

    // Tokenizer training, time-series repair, declarative
    // data-quality auditing, and community detection — four more pillars of
    // a corpus-scale curation platform:

    // ---- q191: BPE merge learning (3 rounds) ---------------------------
    // q191 BPE merge learning: the byte-pair-encoding training loop
    // (Sennrich et al., ACL 2016) as bounded relational rounds — count
    // adjacent symbol pairs (one map-side-combined groupBy), pick the
    // argmax merge, apply it with pure window arithmetic. The 100 TB
    // posture: pair counting is a shuffle of (pair, count) partials,
    // never token sequences; each round's merge rule is ONE broadcast
    // row.
    // Symbols start as whitespace tokens (the operator is alphabet-
    // agnostic; character-level runs identically) over a deterministic
    // 10% document slice. Per round: (a) adjacent-pair counts via ONE
    // per-doc lead() window + map-side-combined groupBy — the shuffle
    // carries (pair, count) partials, never positions; (b) the merge
    // rule = argmax pair (count desc, pair asc), a 1-row bounded
    // driver probe (the convergence-probe pattern of GraphOps);
    // (c) application: rows where (t, next)=(x, y) become the merged
    // symbol, rows where (prev, t)=(x, y) are consumed, positions
    // renumber with row_number — all per-doc windows. Restricting
    // merges to x != y makes matches non-overlapping, so greedy
    // left-to-right application IS this relational form (a pair can
    // only overlap itself when left == right). Output: the 3 learned
    // merge rules with their support.
    "q191_bpe_merges" -> ((s, d) => {
      val byPos = Window.partitionBy("doc_id").orderBy("pos")
      // Materialization policy (r11): the ONLY action per round is the
      // argmax probe. It populates that round's persisted `nbr` (the
      // lead/lag window frame both the probe and the rule application
      // read — the r10 shape computed the window TWICE per round) and,
      // en route, the previous round's lazily-persisted `toks`. The
      // round's rule application stays lazy: the NEXT round's probe
      // materializes it, and round 3's application is never computed at
      // all (only the learned rules leave the loop). 7 jobs -> 3.
      var toks = table(s, d, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          posexplode(words(col("text"))).as(Seq("pos", "t")))
      var liveNbr: DataFrame = null
      val learned = (1 to 3).map { round =>
        val nbr = toks
          .withColumn("nxt", lead("t", 1).over(byPos))
          .withColumn("prv", lag("t", 1).over(byPos))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val best = nbr
          .filter(col("nxt").isNotNull && col("t") =!= col("nxt"))
          .groupBy("t", "nxt").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("t").asc, col("nxt").asc)
          .limit(1).head() // bounded: the single argmax merge rule
        // nbr is now populated, so the PREVIOUS round's window frame
        // (whose only reader was this round's toks) has no future
        // consumer; this round's toks cache was filled on the way.
        if (liveNbr != null) liveNbr.unpersist()
        toks.unpersist() // no-op for round 1's raw frame
        liveNbr = nbr
        val (x, y, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        toks = nbr
          .filter(!coalesce(col("prv") === x && col("t") === y, lit(false)))
          .withColumn("t",
            when(col("t") === x && col("nxt") === y,
              concat(col("t"), lit("~"), col("nxt"))).otherwise(col("t")))
          .withColumn("pos", row_number().over(byPos))
          .select("doc_id", "pos", "t")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (round.toLong, x, y, cnt)
      }
      if (liveNbr != null) liveNbr.unpersist()
      toks.unpersist() // round 3's application: lazy, never computed
      import s.implicits._
      learned.toDF("round", "left_tok", "right_tok", "pair_count")
    }),

    // Curation-pipeline operators a training-data platform
    // layers on top of the dedup/quality family, plus the forward direction
    // of the native as-of operator:
    //
    // Reference context: the reference's own curation surface is dedup +
    // report queries (SURVEY §2.2, §2.5); these six extend that posture to
    // the split/contamination hygiene a 100 TB training corpus needs.

    // ---- q197: source-balanced quality percentile gate -----------------
    // q197 source-balanced quality gate: per-SOURCE percentile
    // normalization of a quality score, so one source's score scale
    // can't crowd out the others when a global threshold is applied
    // (the mixture-balancing complement of q102/q103 sampling).
    // Raw score = avg token length in milli-chars (integer), ranked
    // WITHIN each source; keep the top 20% of every source. The
    // percentile is exact integer math ((rank-1)*1e6 div (n-1)) so the
    // cut is reproducible across engines — no floating percent_rank.
    // Both windows partition by source, so the plan is one hash shuffle
    // on source; n_sources never exceeds executor parallelism concerns
    // here, and a skewed mega-source would ride the same salting as
    // q57/q156.
    "q197_source_quantile_gate" -> ((s, d) => {
      val scored = table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("(n_chars * 1000) div " +
            "size(filter(split(lower(text), ' '), w -> length(w) > 0))")
            .as("score_milli"))
      val bySource = Window.partitionBy("source")
      val ordered = bySource.orderBy(col("score_milli"), col("doc_id"))
      scored
        .withColumn("rnk", rank().over(ordered).cast("long"))
        .withColumn("n", count(lit(1)).over(bySource))
        .withColumn("pct_micro", expr("((rnk - 1) * 1000000) div (n - 1)"))
        .filter(col("pct_micro") >= 800000)
        .select("doc_id", "source", "score_milli", "pct_micro")
    }),

    // ---- q198: per-document contamination fraction ---------------------
    // q198 per-document contamination fraction: share of a document's
    // distinct 5-grams that appear in the benchmark split — the
    // GPT-3-appendix document-level flagging that complements q89's
    // corpus-level hit counts and q97's Bloom screen.
    // Benchmark split = docs with doc_id % 97 == 0 (q89's convention).
    // For every other document: the share of its DISTINCT 5-grams that
    // appear anywhere in the benchmark, as exact ppm. The benchmark gram
    // set is BROADCAST (it is the eval suite — small by construction at
    // any corpus scale), so the training corpus is scanned once and
    // never shuffled on gram text: the same posture as q89/q97, but
    // emitting the per-doc fraction the GPT-3-style doc-removal rule
    // thresholds on.
    "q198_contamination_frac" -> ((s, d) => {
      val grams = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("t"))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(t) - 5),
             i -> array_join(slice(t, i + 1, 5), ' '))""")).as("g"))
        .distinct()
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select("g").distinct().withColumn("hit", lit(1L))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("frac_ppm", expr("(n_hit * 1000000) div n_grams"))
    }),

    // ---- q202: BPE tokenizer apply -------------------------------------
    // q202 BPE apply: the learned merge table (q191's training loop)
    // applied to the WHOLE corpus — greedy left-to-right merge
    // application expressed as a chain of bounded string replaces over
    // a doubled-space encoding (provably equal to the per-token greedy
    // scan; see the operator comment). Learn on the sample, tokenize
    // the corpus: the standard tokenizer deployment shape.
    // Merges come from q191's training loop (learned on the doc_id%10
    // sample — 3 bounded driver rows, the tokenizer's merge table).
    // Application to the full corpus is greedy left-to-right, per merge,
    // in merge order — exactly what `replace` does on a doubled-space
    // encoding: " a  b " patterns cannot overlap their own replacement
    // (" a_b " keeps single-space edges, and the neighbours' doubled
    // boundaries survive), and left-to-right non-overlapping replacement
    // IS greedy BPE application for one rule (Wave16Spec proves equality
    // with a per-token greedy scan on every doc). Each replace is one
    // codegen'd string pass — no token explode, no per-round shuffle:
    // applying a 32k-merge vocabulary at 100 TB stays a map-only job
    // (chunked into a few hundred replaces per projection).
    "q202_bpe_apply" -> ((s, d) => {
      val merges = queries("q191_bpe_merges")(s, d)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2)))
      val doubled = concat(lit(" "),
        call_function("replace", lower(col("text")), lit(" "), lit("  ")),
        lit(" "))
      val applied = merges.foldLeft(doubled) { case (c, (x, y)) =>
        call_function("replace", c, lit(s" $x  $y "), lit(s" $x~$y "))
      }
      table(s, d, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("n_before"),
          size(filter(split(applied, " "), w => length(w) > 0))
            .cast("long").as("n_after"))
        .withColumn("n_merged", col("n_before") - col("n_after"))
    }),

    // ---- q210: Gopher repetition signals -------------------------------
    // q210 Gopher-style repetition signals (Rae et al. 2021, Table A1,
    // adapted to the single-line corpus): top-2-gram character share,
    // most-common-word share, duplicate-segment share — per doc, exact
    // integer ppm, with the composite keep flag a quality gate applies.
    // Three repetition measures per doc, each from its own map-side-
    // combined (doc, unit) rollup — the shuffles carry bounded count
    // partials, never text beyond the unit strings:
    //   top2gram_ppm  chars covered by the most frequent adjacent 2-gram
    //                 (count × gram length, standard overlap-counting)
    //                 per document character,
    //   topword_ppm   occurrences of the most common token per token,
    //   dupseg_ppm    repeat occurrences of 3-token segments per segment.
    // Ties on the argmax resolve by the LEXICOGRAPHICALLY larger unit via
    // max(struct(cnt, unit)) — deterministic and engine-portable (DuckDB
    // compares structs field-by-field the same way). The keep flag is the
    // composite gate a Gopher-rules filter applies; thresholds sit where
    // the synthetic corpus genuinely splits.
    "q210_gopher_repetition" -> ((s, d) => {
      val base = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), words(col("text")).as("t"))
        .withColumn("n_toks", size(col("t")).cast("long"))
        .filter(col("n_toks") >= MinToks)
      val topG = base.select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(t) - 2),
             i -> array_join(slice(t, i + 1, 2), ' '))""")).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max(struct(col("cnt"), col("gram"))).as("m"))
        .select(col("doc_id"),
          (col("m.cnt") * length(col("m.gram"))).as("g_chars"))
      val topW = base.select(col("doc_id"), explode(col("t")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max(struct(col("cnt"), col("w"))).as("m"))
        .select(col("doc_id"), col("m.cnt").as("w_cnt"))
      val segs = base.select(col("doc_id"), explode(expr(segsExpr)).as("seg"))
        .groupBy("doc_id", "seg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(sum("cnt").as("n_segs"),
          sum(col("cnt") - 1).as("dup_segs"))
      base.select("doc_id", "n_chars", "n_toks")
        .join(topG, "doc_id").join(topW, "doc_id").join(segs, "doc_id")
        .select(col("doc_id"),
          expr("g_chars * 1000000 div n_chars").as("top2gram_ppm"),
          expr("w_cnt * 1000000 div n_toks").as("topword_ppm"),
          expr("dup_segs * 1000000 div n_segs").as("dupseg_ppm"))
        .withColumn("keep",
          when(col("top2gram_ppm") <= 100000 &&
            col("topword_ppm") <= 110000 &&
            col("dupseg_ppm") === 0, 1L).otherwise(0L))
    }),

    // ---- q211: within-doc segment dedup + recompose --------------------
    // q211 WITHIN-doc segment dedup + recompose (the complement of
    // q196's cross-corpus keep-first): repeated segments inside one
    // document are dropped and the text reassembled in order.
    // Keep the FIRST occurrence of each distinct 3-token segment inside
    // each document and reassemble the survivors in segment order — the
    // within-doc half of Gopher's duplicate-line removal (q196 is the
    // cross-corpus half). One window shuffle keyed (doc_id, seg); the
    // recompose is an ordered array fold per doc (collect_list is
    // unordered, array_sort on the (seg_idx, seg) struct restores the
    // total order — seg_idx is unique per doc so the sort is
    // deterministic). Per-doc state is the document itself: no stage
    // ever holds more than one doc's segments in a row.
    "q211_withindoc_dedup" -> ((s, d) => {
      val segs = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), posexplode(expr(segsExpr)))
        .toDF("doc_id", "seg_idx", "seg")
      val firstIdx = Window.partitionBy("doc_id", "seg").orderBy("seg_idx")
      segs.withColumn("rn", row_number().over(firstIdx))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            """transform(
                 array_sort(collect_list(
                   CASE WHEN rn = 1 THEN struct(seg_idx, seg) END)),
                 x -> x.seg)""")).as("text_dedup"))
    }),

    // ---- q235: padding-efficiency audit --------------------------------
    // q235 padding-efficiency audit: length-bucketed batching waste —
    // how many padded tokens inference burns per bucket vs perfect
    // packing. The report that justifies (or kills) a sorted-batching
    // deployment.
    // Bucket documents by token count (width 32); within a bucket,
    // batches of 8 pad every member to the bucket max. padded =
    // ceil(n/8)·8·max_tok; perfect packing = Σ tokens; waste_ppm is
    // the gap. Everything after the per-doc token count (a map) is a
    // bucket-keyed agg — bucket count is bounded by max_len/32, so the
    // report frame is tiny at any corpus size. The same numbers for
    // UNBUCKETED batching fall out of the bucket-0-only variant; the
    // per-bucket report is what a serving team actually tunes against.
    "q235_padding_audit" -> ((s, d) => {
      table(s, d, "documents")
        .select(size(words(col("text"))).cast("long").as("n_tok"))
        .select(expr("n_tok div 32").as("bucket"), col("n_tok"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
          max("n_tok").as("max_tok"))
        .withColumn("n_batches", expr("(n_docs + 7) div 8"))
        .withColumn("padded_tok", expr("n_batches * 8 * max_tok"))
        .withColumn("waste_ppm", expr(
          "(padded_tok - sum_tok) * 1000000L div padded_tok"))
    }),

    // ---- q236: Zipf / heavy-tail frequency audit -----------------------
    // q236 Zipf/heavy-tail audit: token type and occurrence mass per
    // log2-frequency bin — the rank-frequency evidence that a corpus
    // has a healthy head/tail split (dedup failures fatten the head;
    // boilerplate fattens specific bins).
    // Token → corpus frequency (ONE map-side-combined shuffle, the
    // q99 vocabulary pass), then log2 bin via the BINARY-STRING length
    // of the count — floor(log2 f)+1 computed with exact string ops,
    // engine-identical where float log2 drifts at powers of two. Per
    // bin: distinct types, occurrence mass, min/max frequency. A
    // Zipfian corpus shows types halving and mass ~flat per bin; the
    // ~60-row report is the health check.
    "q236_zipf_audit" -> ((s, d) => {
      table(s, d, "documents")
        .select(explode(words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .select(expr("CAST(length(conv(freq, 10, 2)) AS BIGINT)")
          .as("log2_bin"), col("freq"))
        .groupBy("log2_bin")
        .agg(count(lit(1)).as("n_types"), sum("freq").as("n_occ"),
          min("freq").as("min_freq"), max("freq").as("max_freq"))
    }),

    // ---- q237: shingle novelty rate per ingest batch -------------------
    // q237 shingle novelty rate per ingest batch: the fraction of a
    // batch's distinct shingles never seen in earlier batches — the
    // diminishing-returns curve crawl curation watches to decide when
    // a source is mined out.
    // Ingest batches of 50 docs (doc_id div 50 — the stand-in for
    // arrival order). A shingle is NEW in the first batch that
    // contains it. distinct (shingle, batch) pairs → per-shingle
    // first batch (min) → per-batch distinct total vs first-here
    // count. Two shingle-keyed aggs + one tiny batch-keyed join; the
    // shingle shuffle carries each distinct (shingle, batch) pair
    // once — at 100 TB the pair key becomes xxhash64(shingle) (q196's
    // recipe), kept as text here for oracle parity.
    "q237_novelty_rate" -> ((s, d) => {
      val pairs = table(s, d, "documents")
        .select(expr("doc_id div 50").as("batch"),
          words(col("text")).as("tokens"))
        .filter(size(col("tokens")) >= 3)
        .select(col("batch"), explode(expr(
          "transform(sequence(0, size(tokens) - 3)," +
            " i -> concat_ws(' ', slice(tokens, i + 1, 3)))"))
          .as("shingle"))
        .distinct()
      val totals = pairs.groupBy("batch")
        .agg(count(lit(1)).as("n_shingles"))
      val firsts = pairs.groupBy("shingle")
        .agg(min("batch").as("batch"))
        .groupBy("batch").agg(count(lit(1)).as("n_new"))
      totals.join(firsts, Seq("batch"), "left_outer")
        .na.fill(0L, Seq("n_new"))
        .withColumn("novelty_ppm",
          expr("n_new * 1000000L div n_shingles"))
    }),

    // ---- q243: leave-one-source-out contribution audit -----------------
    // q243 leave-one-source-out (LOSO) contribution audit: for every
    // source, what the corpus would look like WITHOUT it — the
    // additive-metric form of data valuation (the decision input for
    // "keep paying for this feed?"), plus each source's unique
    // vocabulary contribution.
    // Additive metrics make LOSO a SINGLE-PASS computation: the
    // without-s mean is (Σtok − Σtok_s) div (n − n_s) from one
    // per-source rollup + a 1-row corpus total broadcast — no
    // per-source corpus re-scan (the naive form is |sources|+1
    // passes). Unique-vocabulary contribution rides the q237/q131
    // content-keyed shape: distinct (token, source) pairs → tokens
    // with exactly one source → per-source count; tokens shuffle once.
    // delta_ppm > 0 ⇒ removing the source RAISES the corpus mean —
    // the source drags quality down; unique tokens measure what
    // coverage dies with it.
    "q243_loso_valuation" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"),
          size(words(col("text"))).cast("long").as("n_tok"))
      val per = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      val tot = per.agg(sum("n_docs").as("t_docs"),
        sum("sum_tok").as("t_tok"))
      val uniq = table(s, d, "documents")
        .select(col("source"), explode(words(col("text"))).as("tok"))
        .distinct()
        .groupBy("tok")
        .agg(count(lit(1)).as("n_src"), min("source").as("only_src"))
        .filter(col("n_src") === 1)
        .groupBy(col("only_src").as("source"))
        .agg(count(lit(1)).as("uniq_tokens"))
      per.crossJoin(broadcast(tot))
        .join(uniq, Seq("source"), "left_outer")
        .na.fill(0L, Seq("uniq_tokens"))
        .select(col("source"), col("n_docs"), col("sum_tok"),
          expr("sum_tok div n_docs").as("mean_tok"),
          expr("(t_tok - sum_tok) div (t_docs - n_docs)")
            .as("loso_mean_tok"),
          expr("((t_tok - sum_tok) div (t_docs - n_docs)" +
            " - t_tok div t_docs) * 1000000L div (t_tok div t_docs)")
            .as("delta_ppm"),
          col("uniq_tokens"))
    }),

    // ---- q263: TextRank keyword extraction -----------------------------
    // q263 TextRank keywords: graph centrality over the token
    // adjacency graph (Mihalcea & Tarau 2004) — the unsupervised
    // keyword extractor a corpus card/topic report runs, as two
    // bounded relational rounds with q119's integer-rank discipline.
    // Undirected co-occurrence graph: adjacent token pairs where both
    // endpoints clear the frequency gate, weight = adjacency count.
    // Rank runs q119's integer loop with WEIGHTED shares
    // ((r·w) div wdeg): two unrolled iterations (the oracle stays
    // expressible; TextRank converges fast and the top set stabilizes
    // by round 2). Everything shuffles on token keys; the per-round
    // rank frame is vocabulary-sized, broadcast onto the edge list.
    "q263_textrank_keywords" -> ((s, d) => {
      // Tokenized corpus feeds TWO consumers (bigram adjacency + vocab
      // counts) with no shared exchange to reuse — eager persist so
      // the scan+tokenize pass runs once, not once per consumer (guide
      // §1.2 step 1). Released at the harness boundary per the
      // GraftSession.releaseQueryCaches cache-lifetime contract.
      val toks = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 2)
        .select(col("tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks.count()
      val adj = toks.select(explode(expr(
          """transform(sequence(0, size(tokens) - 2),
             i -> struct(element_at(tokens, i + 1) AS a,
                         element_at(tokens, i + 2) AS b))""")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
      val vocab = toks.select(explode(col("tokens")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .filter(col("c") >= MinCnt).select("w")
      val e0 = adj
        .join(vocab.select(col("w").as("a")), "a")
        .join(vocab.select(col("w").as("b")), "b")
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("wt"))
      val edges = e0.select(col("u").as("src"), col("v").as("dst"),
          col("wt"))
        .unionByName(e0.select(col("v").as("src"), col("u").as("dst"),
          col("wt")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wdeg = edges.groupBy("src").agg(sum("wt").as("wdeg"))
      var rank = wdeg.select(col("src").as("id"), lit(1000000L).as("r"))
      (1 to 2).foreach { _ =>
        val div = rank.join(wdeg, rank("id") === wdeg("src"))
          .select(col("src"), col("r"), col("wdeg"))
        rank = edges.join(broadcast(div), "src")
          .select(col("dst"), expr("(r * wt) div wdeg").as("share"))
          .groupBy("dst").agg(sum("share").as("m"))
          .select(col("dst").as("id"),
            (lit(150000L) + expr("(m * 85) div 100")).as("r"))
      }
      rank.orderBy(col("r").desc, col("id").asc).limit(25)
        .select(col("id").as("keyword"), col("r").as("rank_score"))
    }),

    // ---- q276: vocabulary coverage curve -------------------------------
    // q276 vocabulary coverage curve: what fraction of token
    // occurrences the top-k vocabulary covers, at standard k cuts —
    // the tokenizer-vocab-size design table.
    // Vocab counts (one map-side-combined shuffle), ranked descending
    // with a token tie-break, occurrence-cumulative over the
    // vocabulary-sized frame (same domain-bounded single-partition
    // class as q236's Zipf audit; the two-phase distributed rank —
    // q93 — replaces it at real vocabulary sizes), then the curve is
    // read off at the standard k cuts. Cuts beyond the vocabulary
    // emit no row in either engine.
    "q276_vocab_coverage" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(explode(words(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n_total"))
      val w = Window.orderBy(col("cnt").desc, col("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vocab
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
        .withColumn("cum", sum("cnt").over(w))
        .filter(col("rn").isin(VocabCuts: _*))
        .crossJoin(broadcast(tot))
        .select(col("rn").as("vocab_k"), col("cum").as("n_covered"),
          col("n_total"),
          expr("cum * 1000000 div n_total").as("coverage_ppm"))
    }),

    // ---- q302: lexical-cohesion topic segmentation ---------------------
    // q302 TextTiling-style topic segmentation (Hearst 1997, the
    // integer-exact variant): lexical cohesion between adjacent
    // 20-token blocks as distinct-token Jaccard; a cohesion dip below
    // half the document's mean marks a topic boundary — the chunking
    // signal a RAG pipeline wants instead of fixed windows (q94).
    // Tokens gain positions map-side (posexplode), blocks are
    // pos div 20, and cohesion is the distinct-token Jaccard between
    // block b and b+1 — computed candidate-style: one (doc, block,
    // token) distinct frame, self-joined at block+1 on (doc, token)
    // for intersections (work bounded by shared tokens, the posting
    // shape), sizes from the same frame. Boundary: jac < mean/2 of
    // the doc's own seams (integer-exact: 2·n·jac < Σjac). Output is
    // one summary row per document. Scales as the token scan + a
    // (doc, block)-keyed shuffle; no corpus-wide window anywhere.
    "q302_texttiling_segmentation" -> ((s, d) => {
      val toks = table(s, d, "documents")
        .select(col("doc_id"),
          posexplode(expr(
            "filter(split(lower(text), ' '), w -> w != '')"))
            .as(Seq("pos", "tok")))
        .select(col("doc_id"), expr("pos div 20").as("blk"), col("tok"))
        .distinct()
      val sizes = toks.groupBy("doc_id", "blk")
        .agg(count(lit(1)).as("sz"))
      val inter = toks
        .join(toks.select(col("doc_id"), (col("blk") - 1).as("blk"),
          col("tok").as("tok2")),
          Seq("doc_id", "blk"))
        .filter(col("tok") === col("tok2"))
        .groupBy("doc_id", "blk").agg(count(lit(1)).as("inter"))
      val seams = sizes
        .join(sizes.select(col("doc_id"), (col("blk") - 1).as("blk"),
          col("sz").as("sz_next")), Seq("doc_id", "blk"))
        .join(inter, Seq("doc_id", "blk"), "left_outer")
        .na.fill(0L, Seq("inter"))
        .withColumn("jac_ppm",
          expr("inter * 1000000 div (sz + sz_next - inter)"))
      seams.groupBy("doc_id")
        .agg(count(lit(1)).as("n_seams"), sum("jac_ppm").as("sum_jac"),
          min("jac_ppm").as("min_jac_ppm"))
        .join(seams.select("doc_id", "blk", "jac_ppm"), "doc_id")
        .withColumn("is_boundary",
          expr("2 * n_seams * jac_ppm < sum_jac"))
        .groupBy("doc_id")
        .agg(max("n_seams").as("n_seams"),
          sum(when(col("is_boundary"), 1L).otherwise(0L))
            .as("n_boundaries"),
          max("min_jac_ppm").as("min_jac_ppm"),
          expr("max(sum_jac) div max(n_seams)").as("mean_jac_ppm"))
    }),

    // ---- q316: Zipf exponent of the token frequency spectrum -----------
    // Token counts (the q99 tokenize chain), top-200 ranks (vocab-sized
    // window — the q93 two-phase rank replaces it at real vocab scale),
    // then OLS of ln(freq) on ln(rank) in micro-nats: slope_ppm ≈ −1e6
    // for natural text. Moments lifted to DECIMAL(38,0) (HUGEINT in the
    // oracle) because n·Σxy − Σx·Σy overflows i64 at micro-nat scale;
    // one final exact integral division per statistic.
    "q316_zipf_exponent" -> ((s, d) => {
      val freq = table(s, d, "documents")
        .select(explode(words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val top = freq
        .withColumn("r", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))))
        .filter(col("r") <= 200)
        .select(
          expr("CAST(floor(ln(1.0 * r) * 1000000) AS BIGINT)").as("x"),
          expr("CAST(floor(ln(1.0 * cnt) * 1000000) AS BIGINT)").as("y"),
          col("cnt"))
      top.agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
          max("cnt").as("top_cnt"))
        .select(col("n").as("n_terms"),
          expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div (CAST(n AS DECIMAL(38,0)) * sxx
               - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("slope_ppm"),
          expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy)
            * (CAST(n AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div ((CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx)
               * (CAST(n AS DECIMAL(38,0)) * syy
                  - CAST(sy AS DECIMAL(38,0)) * sy)) AS BIGINT)""")
            .as("r2_ppm"),
          col("top_cnt"))
    }),

    // Index structures as relational shapes — a
    // positional phrase-occurrence scan (the inverted-index primitive a
    // search layer runs for exact-phrase queries) and bitmap-index
    // intersection counts (exact distinct-user overlap between event
    // types WITHOUT a distinct-pair shuffle — the audience-overlap
    // query, packed 62 users per machine word).

    // ---- q327: exact-phrase occurrence scan ----------------------------
    // Positional trigram postings (one tokenize pass, per-row array
    // lambdas — zero shuffle until the count); the corpus's top
    // trigram is the probe phrase (argmax with full tie-break, so the
    // query is deterministic and non-empty at every SF); occurrences
    // resolve by joining the postings against the 1-row phrase
    // broadcast. Per-doc hit counts and first position out — the
    // phrase-search serving shape where the postings list is the
    // shuffled unit, never the documents.
    "q327_phrase_occurrences" -> ((s, d) => {
      // Pass 1 (argmax) explodes shingles as before, over an eagerly
      // persisted tokenized corpus; pass 2 is now MAP-ONLY — each
      // doc's occurrence positions of the single top phrase fall out
      // of one array filter over its cached tokens, replacing the
      // former re-tokenize + re-explode + broadcast join + groupBy
      // (the per-doc grain already exists, so the explode-then-regroup
      // paid a corpus-sized shuffle for nothing — guide §2.4). Output
      // identical: n_occ = |matches|, first_pos = first match index
      // (filter preserves the ascending sequence order).
      val toks = table(s, d, "documents")
        .withColumn("t", words(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks.count()
      val sh = toks.select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(t) - 3),
           i -> concat_ws(' ', slice(t, i + 1, 3)))"""))
        .as(Seq("pos", "shingle")))
      val top = sh.groupBy("shingle").agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("shingle")).limit(1)
        .select(col("shingle").as("phrase"), col("n_total"))
      toks.crossJoin(broadcast(top))
        .select(col("doc_id"), expr(
          """filter(sequence(0, size(t) - 3),
             i -> concat_ws(' ', slice(t, i + 1, 3)) = phrase)""")
          .as("hits"), col("n_total"))
        .filter(size(col("hits")) > 0)
        .select(col("doc_id"),
          size(col("hits")).cast("long").as("n_occ"),
          element_at(col("hits"), 1).cast("long").as("first_pos"),
          col("n_total"))
    }),

    // ---- q338: Flesch-style readability scorecard per source -----------
    // Sentences = non-empty '.'-separated spans; words = the corpus
    // tokenizer; syllable proxy = vowel groups per word (a-e-i-o-u
    // runs, ≥1 per word). Flesch micro = 206.835e6 − 1.015e6·words/
    // sentences − 84.6e6·syllables/words, with each ratio one
    // truncating integral division — deterministic in both engines.
    // One map-only pass folds to the |sources| frame.
    "q338_readability_scorecard" -> ((s, d) => {
      val perDoc = table(s, d, "documents")
        .select(col("source"),
          expr("""size(filter(split(text, '\\.'),
              x -> length(trim(x)) > 0))""").as("sents"),
          expr("""size(filter(split(lower(text), ' '),
              w -> w != ''))""").as("words"),
          expr("""aggregate(
              transform(filter(split(lower(text), ' '), w -> w != ''),
                w -> greatest(1, size(filter(
                  split(w, '[^aeiou]+'), g -> g != '')))),
              0L, (acc, v) -> acc + v)""").as("sylls"))
        .filter(col("sents") > 0 && col("words") > 0)
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("sents").as("sents"),
          sum("words").as("words"), sum("sylls").as("sylls"))
        .select(col("source"), col("n_docs"), col("sents"),
          col("words"), col("sylls"),
          expr("""206835000 - 1015000 * words div sents
              - 84600000 * sylls div words""").as("flesch_micro"))
    }),

    // ---- q350: KWIC contexts for the corpus's top phrase ----------------
    // The q327 postings pick the top trigram; every occurrence emits
    // its ±3-token context window (pure array slicing on the already-
    // tokenized row — no re-scan, no per-occurrence string search).
    // The "show me the hits" serving shape of a concordance/search UI.
    "q350_kwic_contexts" -> ((s, d) => {
      // Pass 1 (argmax phrase) explodes shingles over an eagerly
      // persisted tokenized corpus — and no longer drags each doc's
      // FULL token array through the explode (the old sh carried `t`
      // on every shingle row just so the join survivors could build
      // contexts). Pass 2 is MAP-ONLY: each doc's hit positions fall
      // out of one array filter over its cached tokens, replacing the
      // re-tokenize + re-explode + broadcast join (guide §2.3: don't
      // ship payloads through stages that only need keys). Rows
      // identical: filter preserves the ascending position order and
      // the context expression is unchanged.
      val toks = table(s, d, "documents")
        .withColumn("t", TextOps.words(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toks.count()
      val sh = toks.select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(t) - 3),
           i -> concat_ws(' ', slice(t, i + 1, 3)))"""))
        .as(Seq("pos", "shingle")))
      val top = sh.groupBy("shingle").agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("shingle")).limit(1)
        .select(col("shingle").as("phrase"))
      toks.crossJoin(broadcast(top))
        .select(col("doc_id"), col("t"), col("phrase"), explode(expr(
          """filter(sequence(0, size(t) - 3),
             i -> concat_ws(' ', slice(t, i + 1, 3)) = phrase)"""))
          .as("pos"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("phrase"),
          expr("""array_join(slice(t, greatest(1, pos - 2),
              least(size(t) - 1, pos + 5) - greatest(0, pos - 3) + 1),
              ' ')""").as("context"))
    }),

    // ---- q351: Chao1 vocabulary-richness estimate -----------------------
    // From the token frequency-of-frequencies: D observed types, f1
    // singletons, f2 doubletons → Chao1 = D + f1² div (2·f2); the
    // Good–Turing unseen-mass P₀ = f1/N rides along in ppm. Two
    // corpus folds (token counts → count-of-counts), everything else
    // scalar. The "how much more vocab will 10× data buy" readout.
    "q351_chao1_vocab" -> ((s, d) => {
      val freq = table(s, d, "documents")
        .select(explode(words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      freq.agg(
          count(lit(1)).as("d_types"),
          sum("c").as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("d_types"), col("n_tokens"), col("f1"), col("f2"),
          expr("d_types + (f1 * f1) div (2 * greatest(1, f2))")
            .as("chao1"),
          expr("f1 * 1000000 div n_tokens").as("unseen_mass_ppm"))
    }),

    // ---- q362: first-order entropy rate of the event process -----------
    // Transitions (cur → next) per user in (ts, event_id) order; the
    // conditional entropy H(next|cur) = −Σ_pairs (n_pair/N)·
    // ln(n_pair/n_cur) in micro-nats — ln on exact-integer ratios
    // with the pinned expression shape, weights as one end-of-sum
    // division per pair cell (the grid is |types|² ≤ 25 rows).
    // Output per current state: its entropy contribution and row
    // count, plus the '__all__' rate rollup.
    "q362_sequence_entropy_rate" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val tr = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead("cur", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n_pair"))
      val curTot = tr.groupBy("cur").agg(sum("n_pair").as("n_cur"))
      val nAll = tr.agg(sum("n_pair").as("nn"))
      val cells = tr.join(broadcast(curTot), "cur")
        .crossJoin(broadcast(nAll))
        .withColumn("h_term_micro", expr(
          """-(n_pair * CAST(floor(ln((1.0 * n_pair) / n_cur) * 1000000)
             AS BIGINT)) div nn"""))
      val perCur = cells.groupBy("cur")
        .agg(max("n_cur").as("n_transitions"),
          sum("h_term_micro").as("h_micro"))
      perCur.unionByName(
        perCur.agg(sum("n_transitions").as("n_transitions"),
          sum("h_micro").as("h_micro"))
          .select(lit("__all__").as("cur"), col("n_transitions"),
            col("h_micro")))
    }),

    // ---- q179: inverted-index build ------------------------------------
    // The retrieval-index build shape: per-term segment statistics (df,
    // cf, doc-id bounds) plus an ORDER-INDEPENDENT posting checksum —
    // bit_xor of a 52-bit hash of every (doc, pos, term) posting. The
    // checksum replaces collect_list-and-sort (which would materialize
    // a stopword's full posting list in one aggregation buffer): XOR
    // is commutative/associative, so it map-side combines and never
    // holds more than 8 bytes per term, yet any lost/duplicated/moved
    // posting flips it. One shuffle on the term key; a production
    // writer would emit doc-id-sorted posting segments from the same
    // exchange.
    "q179_inverted_index" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), posexplode(words(col("text")))
          .as(Seq("pos", "tok")))
        .withColumn("hv", conv(substring(md5(concat_ws(":",
          col("doc_id"), col("pos"), col("tok"))), 1, 13), 16, 10)
          .cast("long"))
        .groupBy("tok")
        .agg(countDistinct("doc_id").as("df"),
          count(lit(1)).as("cf"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"),
          expr("bit_xor(hv)").as("postings_xor"))
    }))

  /** Top-10 repeated substrings (LCP capped at 128 chars) over the
    * suffix array of (doc_id, text) rows: rank-adjacent suffix pairs
    * with their common-prefix length, longest first. See q183. */
  def lcpRepeats(docs: DataFrame): DataFrame = {
      val sa = suffixArray(docs)
      val suf = sa.join(docs, "doc_id")
        .select(col("rank"), col("doc_id"), col("pos"),
          expr("substring(text, pos + 1, 128)").as("suf"))
      val nxt = suf.select((col("rank") - 1L).as("rank"),
        col("doc_id").as("b_doc"), col("pos").as("b_pos"),
        col("suf").as("b_suf"))
      suf.join(nxt, "rank")
        .withColumn("lcp", expr(
          """CAST(aggregate(sequence(1, 128), 0, (acc, k) ->
               CASE WHEN acc = k - 1
                     AND substring(suf, k, 1) != ''
                     AND substring(suf, k, 1) = substring(b_suf, k, 1)
                    THEN k ELSE acc END) AS BIGINT)"""))
        .filter(col("lcp") > 0)
        .orderBy(col("lcp").desc, col("doc_id").asc, col("pos").asc)
        .limit(10)
        .select(col("doc_id").as("a_doc"), col("pos").as("a_pos"),
          col("b_doc"), col("b_pos"), col("lcp"))
  }

  /** Generalized suffix array over (doc_id, text) rows by Manber–Myers
    * prefix doubling: returns (doc_id, pos, rank) where `rank` is the
    * lexicographic rank of the suffix text[pos..] among ALL suffixes of
    * all documents, ties between identical cross-document suffixes broken
    * by (doc_id, pos). Every global ordering step is the distributed
    * two-phase rank (range partition + local prefix sums + offset
    * broadcast) — no single-partition window at any step. */
  def suffixArray(docs: DataFrame): DataFrame = {
      // ONE tiny doc-grain job yields both loop bounds: maxLen caps the
      // doubling depth and n (= Σ lengths = suffix count, since
      // posexplode emits one row per character) bounds every dense rank
      // — the former shape paid a separate full chars.count() pass.
      val stats = docs
        .agg(max(length(col("text"))), sum(length(col("text")))).head()
      val maxLen = stats.getInt(0)
      val n = stats.getLong(1)
      // Bounded-key seeding: initial rank compares the first k0 = 32
      // characters of each suffix as a fixed-width key built MAP-SIDE
      // (constant bytes per row regardless of doc length — materializing
      // whole suffixes would be O(len^2) bytes per doc, which is exactly
      // why suffix arrays exist). Doubling then starts at k = 32 instead
      // of 1: five fewer rounds than k0 = 1, trading a wider seed sort
      // key (32 bytes/row, which scales with data and parallelizes) for
      // rounds (each of which pays a fixed scheduling floor — the r10
      // suite measured this family as the worst fixed-floor ratio). The
      // loop still resolves arbitrarily deep ties for long/repetitive
      // documents.
      val k0 = 32L
      val chars = docs.select(col("doc_id"), col("text"),
          posexplode(split(col("text"), "")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          expr(s"substring(text, pos + 1, $k0)").as("seed_key"))
      // Each round references `cur` twice (distinct subtree + rank-back),
      // so without lineage truncation the logical plan grows per round —
      // eager localCheckpoint caps it at one round's depth per iteration
      // (a cluster job would use reliable checkpoint() the same way).
      // The seed's distinct-rank count rides the rank's own offset
      // collect — no separate distinct().count() job.
      val (seedRanked, seedDistinct) =
        denseRankBy(chars, Seq("seed_key"), "r")
      var cur = seedRanked
        .select(col("doc_id"), col("pos"), col("r"))
        .localCheckpoint(true)
      var k = k0
      // Adaptive packing: a doubling round whose (r, r2) pair fits a
      // single long as r*base + r2 is a MAP-SIDE relabel — order-
      // preserving, no shuffle, no checkpoint. Ranks are dense (<= n+1)
      // after every compaction, so (n+1)^2 headroom allows one pack and
      // (n+1)^4 < 2^63 allows two back-to-back before a dense round must
      // compact — a shard under ~55k suffixes advances depth 8x per
      // dense compaction, bigger shards 4x, and the scheme degrades to
      // plain doubling only past 2^31 suffixes per shard.
      val nB = n + 1L
      val maxPacks =
        if (nB < 55000L) 2 else if (nB < Int.MaxValue.toLong) 1 else 0
      var packLevel = 0
      var base = nB
      // Convergence exit: a rank class a round fails to split can never
      // split in a later round (the refinement is a fixed point), so the
      // loop is done as soon as the distinct-rank count stops growing.
      // NOT "all ranks unique" — this corpus plants long duplicated spans
      // (the very ones q98/q100 dedup), so identical cross-doc suffixes
      // keep tied ranks at every depth and a uniqueness test would run
      // the loop to max doc length for nothing. The count comes FREE
      // from each rank's own offset collect (r11: the former
      // distinct().count() probe was a whole extra pass per round).
      var prevRanks = seedDistinct
      var done = prevRanks == n // seed may already be a total order
      // Per-doc positions are DENSE (posexplode emits every 0..len-1),
      // so "the rank k positions ahead in the same document" is exactly
      // lead(r, k) over (doc_id, pos-asc) — one window exchange on
      // doc_id instead of the former self-join's two exchanges, and
      // consecutive rounds between dense compactions reuse the doc_id
      // partitioning outright (a map-side pack preserves it). Default 0
      // = past the end, which sorts below every real rank (>= 1) —
      // "abc" < "abcd". Per-doc window state is bounded by maxLen, not
      // corpus size, so the window is skew-safe at any corpus scale.
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      while (k < maxLen && !done) {
        val paired = cur.withColumn("r2",
          lead(col("r"), k.toInt, 0L).over(byDoc))
        if (packLevel < maxPacks) {
          cur = paired.select(col("doc_id"), col("pos"),
            (col("r") * base + col("r2")).as("r"))
          base = base * base
          packLevel += 1
        } else {
          val (ranked, nr) = denseRankBy(paired, Seq("r", "r2"), "nr")
          cur = ranked
            .select(col("doc_id"), col("pos"), col("nr").as("r"))
            .localCheckpoint(true)
          packLevel = 0
          base = nB
          // Uniqueness is also terminal (nr == n: the order is total
          // and no later round can change it) — catching it directly
          // saves the extra pack+dense cycle the stops-growing test
          // would need to observe the fixed point.
          done = nr == prevRanks || nr == n
          prevRanks = nr
        }
        k *= 2
      }
      // k >= max length: ranks now order by the FULL suffix; identical
      // suffixes from different docs tie — break by (doc_id, pos) for the
      // total suffix-array order, again with the distributed rank
      orderedCumsum(cur.withColumn("one", lit(1L)),
        Seq("r", "doc_id", "pos"), "one", "sa")
        .select(col("doc_id"), col("pos"), (col("sa") - 1L).as("rank"))
  }

  /** Distributed dense rank of `df` by `keys`, plus the DISTINCT-KEY
    * COUNT for free: rank the DISTINCT key tuples with the two-phase
    * range-partitioned prefix sum (the key set is at most the row count
    * and usually far smaller — small enough that AQE turns the
    * join-back into a broadcast, so the full table pays only the
    * distinct's map-side-combined exchange), then join the ranks back.
    * The count comes from the cumsum's own per-partition totals, which
    * [[orderedCumsum]] already collects driver-side to build offsets —
    * iterative callers (suffix-array convergence) previously ran a
    * whole distinct().count() job per round just to observe it.
    *
    * (r11 note: a "fused" single-range-pass dense rank over the full
    * table was tried and MEASURED SLOWER — it forces a range exchange +
    * two sorts + a _pid hash exchange on the full table, where this
    * shape's full-table costs are one partial-agg distinct exchange and
    * a broadcast join-back.) */
  private def denseRankBy(
      df: DataFrame, keys: Seq[String], out: String): (DataFrame, Long) = {
    val (ranked0, nDistinct) = orderedCumsumWithTotal(
      df.select(keys.map(col): _*).distinct().withColumn("_one", lit(1L)),
      keys, "_one", out)
    val ranked = ranked0.select((keys.map(col) :+ col(out)): _*)
    (df.join(ranked, keys), nDistinct)
  }

  /** Global running total over a total order WITHOUT a single-partition
    * window (the thing Resolve's id assignment also avoids): range-
    * partition on the order key, partition-LOCAL prefix sums, then add
    * each partition's starting offset (one tiny row per partition,
    * collected into the driver and shipped back in the task closure —
    * same O(#partitions) driver footprint as zipWithIndex). Result
    * values depend only on the total order, not on where the sampled
    * range boundaries land. */
  def orderedCumsum(
      df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String): DataFrame =
    orderedCumsumWithTotal(df, orderCols, valueCol, out)._1

  /** [[orderedCumsum]] plus the GRAND TOTAL of `valueCol`, read off the
    * per-partition totals the two-phase scheme collects driver-side
    * anyway — callers that need the sum (e.g. the dense-rank key count
    * driving suffix-array convergence) get it with zero extra jobs.
    *
    * Both passes are NARROW maps over ONE materialized range exchange
    * (the local prefix sum is a sorted-iterator fold, the offset
    * lookup a closure map) — the r10 shape ran a window partitioned by
    * spark_partition_id(), whose hash exchange re-shuffled the entire
    * table a second time, plus a broadcast join to attach offsets; per
    * call that was 4 exchange executions and 2 window sorts.
    *
    * The eager localCheckpoint between the sort and the two passes is
    * LOAD-BEARING, twice over: (1) without a parent that requires the
    * ordering (the old window did; an opaque mapPartitions does not),
    * the optimizer's EliminateSorts DROPS the sortWithinPartitions and
    * the fold runs over unsorted rows — observed as a nondeterministic
    * q304 llr walk; as the checkpoint execution's ROOT the sort cannot
    * be elided. (2) The totals pass and the output pass are separate
    * actions; on a live plan each would re-run the range exchange with
    * freshly-sampled boundaries (RangePartitioner seeds by rdd.id), so
    * a row near a boundary could land in different partitions in the
    * two passes and be double-counted against the offsets. Reading
    * both passes from the same materialized blocks makes the
    * boundary-consistency guarantee structural instead of assumed.
    * The fold adds value rows in ascending key order, so emitted
    * values are bit-identical to the window sum (valueCol is non-null
    * at every call site; the window form was null-propagating where
    * this treats null as 0 — no caller passes nulls). */
  def orderedCumsumWithTotal(
      df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String): (DataFrame, Long) = {
    val ranged = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .localCheckpoint(true)
    val vIdx = ranged.schema.fieldIndex(valueCol)
    val spark = df.sparkSession
    import spark.implicits._
    // pass 1: one (pid, total) row per partition, collected
    val totals = ranged.mapPartitions { it =>
      var s = 0L
      var any = false
      it.foreach { r => any = true; if (!r.isNullAt(vIdx)) s += r.getLong(vIdx) }
      if (any) Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
      else Iterator.empty
    }.collect().sortBy(_._1)
    // pid -> sum of all earlier partitions' totals (robust to gaps
    // from empty partitions)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _)).toMap
    // pass 2: emit rows with the running total (offset + local fold)
    val outSchema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        out, org.apache.spark.sql.types.LongType, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val result = ranged.mapPartitions({ it =>
      var acc = offsets.getOrElse(
        org.apache.spark.TaskContext.getPartitionId(), 0L)
      it.map { r =>
        if (!r.isNullAt(vIdx)) acc += r.getLong(vIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    })(enc)
    (result, totals.map(_._2).sum)
  }

  /** Per-GROUP running total over a per-group total order — the grouped
    * generalization of [[orderedCumsum]]. Range-partition on (group,
    * order) so each group's rows are contiguous across partitions,
    * prefix-sum LOCALLY per (partition, group), then add the group's
    * running offset from earlier partitions (one tiny row per
    * (partition, group) collected and broadcast back). No group is ever
    * confined to one partition, so a skewed giant source still spreads
    * across the cluster. */
  def groupedOrderedCumsum(
      df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      valueCol: String, out: String): DataFrame = {
    val rangeCols = (groupCols ++ orderCols).map(col)
    val ranged = df
      .repartitionByRange(rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .withColumn("_pid", spark_partition_id())
    val localW = Window
      .partitionBy((col("_pid") +: groupCols.map(col)): _*)
      .orderBy(orderCols.map(col): _*)
    val withLocal = ranged
      .withColumn("_local", sum(col(valueCol)).over(localW))
    // one row per (partition, group): that partition's total for the
    // group. Collected driver-side (O(partitions × groups-per-boundary),
    // tiny) to build each group's cross-partition prefix offsets.
    val totals = withLocal
      .groupBy(("_pid" +: groupCols).map(col): _*)
      .agg(max("_local").as("_total"))
      .collect()
      .map(r => (r.getInt(0),
        groupCols.indices.map(i => r.get(i + 1)).toList,
        r.getLong(groupCols.size + 1)))
    val offsets = totals
      .groupBy(_._2)
      .toSeq
      .flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_._1)
        sorted.map(_._1)
          .zip(sorted.map(_._3).scanLeft(0L)(_ + _))
          .map { case (pid, off) => (pid, g) -> off }
      }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetRows = offsets.toSeq.map { case ((pid, g), off) =>
      org.apache.spark.sql.Row.fromSeq(pid +: g :+ off)
    }
    val offsetSchema = org.apache.spark.sql.types.StructType(
      withLocal.schema("_pid") +:
        groupCols.map(c => df.schema(c)) :+
        org.apache.spark.sql.types.StructField("_offset",
          org.apache.spark.sql.types.LongType, nullable = false))
    val offsetDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offsetSchema))
    withLocal.join(offsetDf, "_pid" +: groupCols, "left_outer")
      .withColumn(out,
        col("_local") + coalesce(col("_offset"), lit(0L)))
      .drop("_pid", "_local", "_offset")
  }

  val oracle: Map[String, String] = Map(
    "q157_bigram_lm" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
           FROM documents),
         occ AS (
           SELECT doc_id, t[i + 1] AS w1,
             t[i + 1] || ' ' || t[i + 2] AS bg
           FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
         bgc AS (SELECT bg, count(*) AS c12 FROM occ GROUP BY bg),
         w1c AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
         v AS (SELECT count(*) AS vv FROM w1c)
         SELECT doc_id, count(*) AS n_bg,
           CAST(sum(micro) AS BIGINT) AS ll_micro,
           CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_micro
         FROM (SELECT o.doc_id,
                 CAST(floor(ln((c12 + 0.5) / (c1 + 0.5 * vv)) * 1e6)
                   AS BIGINT) AS micro
               FROM occ o JOIN bgc USING (bg) JOIN w1c USING (w1)
               CROSS JOIN v)
         GROUP BY doc_id""",

    "q158_nfc_norm" ->
      """SELECT p_partkey,
           nfc_normalize(p_name || ' cafe' || chr(769)
             || ' nin' || chr(771) || 'o') AS name_nfc,
           CAST(length(nfc_normalize(p_name || ' cafe' || chr(769)
             || ' nin' || chr(771) || 'o')) AS BIGINT) AS n_cp
         FROM part""",

    "q160_prefix_jaccard_join" ->
      """WITH sets AS (
           SELECT DISTINCT doc_id, unnest(
             list_filter(string_split(lower(text), ' '), w -> w <> ''))
             AS tok
           FROM documents WHERE doc_id % 7 = 0),
         sz AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
         iv AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  count(*) AS inter
                FROM sets a JOIN sets b
                  ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT a_id, b_id,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jac
         FROM iv
         JOIN sz sa ON sa.doc_id = a_id
         JOIN sz sb ON sb.doc_id = b_id
         WHERE inter * 5 >= (sa.n + sb.n - inter) * 4""",

    // brute force: materialize every suffix and sort it — O(n^2 log n)
    // character comparisons, fine for the deterministic doc slice; the
    // Spark side never materializes a suffix string at all
    "q182_suffix_array" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE doc_id < 500 AND doc_id % 50 = 0
                      AND length(text) > 0),
         p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 substr(text, CAST(i AS INT) + 1) AS suf
               FROM d CROSS JOIN (SELECT unnest(range(0, 4096)) AS i) r
               WHERE i < length(text))
         SELECT doc_id, pos,
           CAST(rank() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
             AS rank
         FROM p""",

    // ranks by the FULL suffix (matching q182's order), LCP on the same
    // 128-char window as the Spark side; correlated count over a
    // constant range works because prefix equality is monotone in k
    "q183_lcp_repeats" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE doc_id < 500 AND doc_id % 50 = 0
                      AND length(text) > 0),
         p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 substr(text, CAST(i AS INT) + 1) AS suf
               FROM d CROSS JOIN (SELECT unnest(range(0, 4096)) AS i) r
               WHERE i < length(text)),
         rk AS (SELECT doc_id, pos, substr(suf, 1, 128) AS suf128,
                  rank() OVER (ORDER BY suf, doc_id, pos) - 1 AS rank
                FROM p),
         pair AS (SELECT a.doc_id AS a_doc, a.pos AS a_pos,
                    b.doc_id AS b_doc, b.pos AS b_pos,
                    a.suf128 AS a_suf, b.suf128 AS b_suf
                  FROM rk a JOIN rk b ON b.rank = a.rank + 1),
         l AS (SELECT a_doc, a_pos, b_doc, b_pos,
                 (SELECT count(*)
                  FROM (SELECT unnest(range(1, 129)) AS k) t
                  WHERE length(a_suf) >= k AND length(b_suf) >= k
                    AND substr(a_suf, 1, CAST(k AS INT))
                        = substr(b_suf, 1, CAST(k AS INT))) AS lcp
               FROM pair)
         SELECT a_doc, a_pos, b_doc, b_pos, CAST(lcp AS BIGINT) AS lcp
         FROM l WHERE lcp > 0
         ORDER BY lcp DESC, a_doc, a_pos LIMIT 10""",

    "q148_boilerplate" ->
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
           FROM documents),
         occ AS (
           SELECT doc_id, source,
             unnest(list_transform(range(0, len(t) - 1),
               i -> t[i+1] || ' ' || t[i+2])) AS sg
           FROM toks WHERE len(t) >= 2),
         ns AS (SELECT source, count(DISTINCT doc_id) AS ns
                FROM occ GROUP BY source),
         sdf AS (SELECT source, sg, count(DISTINCT doc_id) AS df
                 FROM occ GROUP BY source, sg),
         boiler AS (SELECT s.source, s.sg FROM sdf s JOIN ns USING (source)
                    WHERE s.df * 100 >= ns.ns * 20 AND ns.ns >= 10)
         SELECT o.doc_id, o.source, CAST(count(*) AS BIGINT) AS n_sh,
           CAST(count(b.sg) AS BIGINT) AS n_boiler,
           CAST((count(b.sg) * 1000000) // count(*) AS BIGINT) AS ratio_ppm
         FROM occ o LEFT JOIN boiler b
           ON b.source = o.source AND b.sg = o.sg
         GROUP BY o.doc_id, o.source""",
    "q149_mixture_reweight" ->
      """WITH docs AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(string_split(lower(text), ' '),
               w -> w <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         pl AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
                FROM docs GROUP BY lang),
         tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens
                 FROM pl),
         rates AS (SELECT lang, lang_tokens,
             least(1000000, (200000 * total_tokens) // lang_tokens)
               AS rate_ppm
           FROM pl CROSS JOIN tot)
         SELECT r.lang, r.lang_tokens, CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.n_tokens) AS BIGINT) AS kept_tokens
         FROM docs d JOIN rates r USING (lang)
         WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_ppm
         GROUP BY r.lang, r.lang_tokens, r.rate_ppm""",
    "q151_incremental_agg" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(string_split(lower(text), ' '),
             w -> w <> ''))) AS BIGINT) AS tokens
         FROM documents GROUP BY source""",
    "q153_oov_rate" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
               w -> w <> '')) AS tok
           FROM documents),
         vocab AS (SELECT tok FROM (
             SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
           ORDER BY cnt DESC, tok ASC LIMIT 20)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(count(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST((count(*) FILTER (v.tok IS NULL) * 1000000) // count(*)
             AS BIGINT) AS oov_ppm
         FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
         GROUP BY t.doc_id""",
    "q150_dsir_weights" ->
      """WITH toks AS (
           SELECT doc_id, source,
             unnest(list_filter(string_split(lower(text), ' '),
               w -> w <> '')) AS tok
           FROM documents),
         va AS (SELECT tok, count(*) AS cnt_r FROM toks GROUP BY tok),
         vt AS (SELECT tok, count(*) AS cnt_t FROM toks
                WHERE source IN ('src0', 'src1', 'src2', 'src3')
                GROUP BY tok),
         vocab AS (SELECT va.tok, va.cnt_r, coalesce(vt.cnt_t, 0) AS cnt_t
                   FROM va LEFT JOIN vt USING (tok)),
         sizes AS (SELECT sum(cnt_r) AS tot_r, sum(cnt_t) AS tot_t,
                          count(*) AS v FROM vocab),
         scored AS (SELECT tok,
             CAST(floor(ln(CAST(cnt_t + 1 AS DOUBLE) / (tot_t + v)) * 1e6)
               AS BIGINT)
           - CAST(floor(ln(CAST(cnt_r + 1 AS DOUBLE) / (tot_r + v)) * 1e6)
               AS BIGINT) AS micro
           FROM vocab CROSS JOIN sizes)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(s.micro) AS BIGINT) AS weight_micro
         FROM toks t JOIN scored s USING (tok)
         GROUP BY t.doc_id""",
    "q93_token_shards" ->
      """SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens FROM (
           SELECT doc_id, n_tokens,
             CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2000) AS BIGINT)
               AS shard
           FROM (
             SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY ord, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM (
               SELECT doc_id,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                   w -> w <> '')) AS BIGINT) AS n_tokens,
                 md5('seed42:' || CAST(doc_id AS VARCHAR)) AS ord
               FROM documents)))
         GROUP BY shard""",
    "q94_chunk_windows" ->
      """SELECT doc_id,
         CAST(unnest(range(0, ((len(tokens) - 1) // 48) + 1)) AS BIGINT)
           AS chunk_idx,
         CAST(unnest(list_transform(range(0, ((len(tokens) - 1) // 48) + 1),
           i -> len(list_slice(tokens, CAST(i AS INT) * 48 + 1,
                               CAST(i AS INT) * 48 + 64)))) AS BIGINT)
           AS chunk_len,
         unnest(list_transform(range(0, ((len(tokens) - 1) // 48) + 1),
           i -> md5(array_to_string(list_slice(tokens, CAST(i AS INT) * 48 + 1,
                                               CAST(i AS INT) * 48 + 64), ' '))))
           AS chunk_hash
         FROM (SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
               FROM documents)
         WHERE len(tokens) > 0""",
    "q95_cms_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok FROM documents),
         cells AS (
           SELECT tok, CAST(j AS INT) AS j,
             CAST(('0x' || substr(md5(tok), CAST(j AS INT) * 8 + 1, 8)) AS BIGINT) % 1024
               AS slot
           FROM toks, unnest(range(0, 4)) AS t(j)),
         cms AS (SELECT j, slot, count(*) AS c FROM cells GROUP BY j, slot),
         probes AS (SELECT unnest(['scan','column','order','merge','join']) AS tok),
         pcells AS (
           SELECT tok, CAST(j AS INT) AS j,
             CAST(('0x' || substr(md5(tok), CAST(j AS INT) * 8 + 1, 8)) AS BIGINT) % 1024
               AS slot
           FROM probes, unnest(range(0, 4)) AS t(j)),
         est AS (SELECT p.tok, min(c.c) AS cms_est
                 FROM pcells p JOIN cms c ON p.j = c.j AND p.slot = c.slot
                 GROUP BY p.tok),
         truth AS (SELECT tok, count(*) AS true_n FROM toks
                   WHERE tok IN ('scan','column','order','merge','join') GROUP BY tok)
         SELECT truth.tok, true_n, cms_est FROM truth JOIN est USING (tok)""",
    "q97_bloom_decontam" ->
      """WITH sh AS (
           SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 2),
             i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' '))) AS shingle
           FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                 FROM documents)
           WHERE len(tokens) >= 3),
         pos AS (SELECT doc_id,
           [CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % 8192,
            CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) % 8192,
            CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT) % 8192] AS ps
           FROM sh),
         bits AS (SELECT list(DISTINCT p) AS bits
                  FROM (SELECT unnest(ps) AS p FROM pos WHERE doc_id % 97 = 0)),
         hits AS (SELECT doc_id,
                    CASE WHEN list_has_all(bits, ps) THEN 1 ELSE 0 END AS hit
                  FROM pos, bits WHERE doc_id % 97 <> 0)
         SELECT doc_id, CAST(sum(hit) AS BIGINT) AS n_hit_shingles,
                count(*) AS n_shingles
         FROM hits GROUP BY doc_id HAVING sum(hit) > 0""",
    "q89_contamination" ->
      """WITH sh AS (
           SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 2),
             i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' '))) AS shingle
           FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                 FROM documents)
           WHERE len(tokens) >= 3),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         SELECT doc_id, count(*) AS n_hits,
           count(DISTINCT sh.shingle) AS n_shingles_hit
         FROM sh JOIN bench USING (shingle)
         WHERE doc_id % 97 <> 0
         GROUP BY doc_id""",
    "q90_repetition" ->
      """SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         round(CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
               / len(sh), 6) AS repetition
         FROM (SELECT doc_id, list_transform(range(0, len(tokens) - 2),
                 i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' ')) AS sh
               FROM (SELECT doc_id,
                       list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                     FROM documents)
               WHERE len(tokens) >= 3)""",
    "q88_redact_terms" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\b(customer|value)\b'))
           AS BIGINT) AS n_redacted,
         md5(regexp_replace(text, '\b(customer|value)\b', '<MASK>', 'g'))
           AS redacted_md5
         FROM documents""",
    "q27_regexp_filter" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE regexp_matches(text, 'hash (join|agg)') GROUP BY lang""",
    "q30_dedup_exact" ->
      """SELECT count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_unique_text,
         count(DISTINCT md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split(lower(text), ' '), w -> w <> ''))), ' '))) AS n_unique_bow
         FROM documents""",
    "q31_dedup_by_key" ->
      """SELECT doc_id, lang, source, n_chars FROM (
           SELECT doc_id, lang, source, n_chars,
                  row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1""",
    "q32_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS sum_ws_tokens,
         CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_re_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
         FROM documents GROUP BY lang""",
    "q33_quality_score" ->
      """SELECT doc_id, n_words, n_unique,
         round(CAST(n_unique AS DOUBLE) / n_words, 6) AS unique_ratio,
         round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
         round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_words, 6) AS avg_word_len
         FROM (
           SELECT doc_id, text,
                  len(tokens) AS n_words,
                  len(list_distinct(tokens)) AS n_unique,
                  len(list_filter(tokens, w -> w IN ('the','a','of','and','to'))) AS n_stop
           FROM (SELECT doc_id, text,
                   list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                 FROM documents))""",
    "q34_lang_id" ->
      """SELECT lang, CASE
           WHEN list_contains(toks, 'the') AND list_contains(toks, 'and') THEN 'en'
           WHEN list_contains(toks, 'der') OR list_contains(toks, 'und') THEN 'de'
           WHEN list_contains(toks, 'el') OR list_contains(toks, 'los') THEN 'es'
           WHEN list_contains(toks, 'le') OR list_contains(toks, 'les') THEN 'fr'
           ELSE 'und' END AS predicted,
         count(*) AS n
         FROM (SELECT lang, list_filter(string_split(lower(text), ' '),
                 w -> w <> '') AS toks
               FROM documents)
         GROUP BY 1, 2""",
    "q35_fingerprint_bow" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split(lower(text), ' '), w -> w <> ''))), ' ')) AS fingerprint
         FROM documents""",
    "q36_minhash_sig" ->
      """SELECT doc_id,
         min(substr(md5(shingle), 1, 8)) AS sig0,
         min(substr(md5(shingle), 9, 8)) AS sig1,
         min(substr(md5(shingle), 17, 8)) AS sig2,
         min(substr(md5(shingle), 25, 8)) AS sig3
         FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 2),
             i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' '))) AS shingle
           FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
                 FROM documents)
           WHERE len(tokens) >= 3)
         GROUP BY doc_id""",
    "q140_minhash_accuracy" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS tokens
           FROM documents),
         shingles AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 2),
               i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' ')))
               AS shingle
             FROM toks WHERE len(tokens) >= 3)),
         sigs AS (
           SELECT doc_id,
             min(substr(md5(shingle), 1, 8)) AS s0,
             min(substr(md5(shingle), 9, 8)) AS s1,
             min(substr(md5(shingle), 17, 8)) AS s2,
             min(substr(md5(shingle), 25, 8)) AS s3
           FROM shingles GROUP BY doc_id),
         bands AS (
           SELECT doc_id, md5(s0 || s1) AS b0, md5(s2 || s3) AS b1
           FROM sigs),
         pairs AS (
           SELECT DISTINCT a_id, b_id FROM (
             SELECT l.doc_id AS a_id, r.doc_id AS b_id
             FROM bands l JOIN bands r
               ON l.b0 = r.b0 AND l.doc_id < r.doc_id
             UNION ALL
             SELECT l.doc_id AS a_id, r.doc_id AS b_id
             FROM bands l JOIN bands r
               ON l.b1 = r.b1 AND l.doc_id < r.doc_id)),
         sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
         iv AS (
           SELECT p.a_id, p.b_id, count(*) AS inter
           FROM pairs p
           JOIN shingles x ON x.doc_id = p.a_id
           JOIN shingles y ON y.doc_id = p.b_id AND y.shingle = x.shingle
           GROUP BY 1, 2)
         SELECT a_id, b_id, est_ppm, jac_ppm,
                abs(est_ppm - jac_ppm) AS err_ppm
         FROM (
           SELECT p.a_id, p.b_id,
             CAST(((CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END)
                 + (CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END)
                 + (CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END)
                 + (CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END))
                 * 250000 AS BIGINT) AS est_ppm,
             (coalesce(iv.inter, 0) * 1000000)
               // (za.sz + zb.sz - coalesce(iv.inter, 0)) AS jac_ppm
           FROM pairs p
           JOIN sigs sa ON sa.doc_id = p.a_id
           JOIN sigs sb ON sb.doc_id = p.b_id
           JOIN sz za ON za.doc_id = p.a_id
           JOIN sz zb ON zb.doc_id = p.b_id
           LEFT JOIN iv ON iv.a_id = p.a_id AND iv.b_id = p.b_id)""",

    "q37_lsh_pairs" ->
      """WITH sigs AS (
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
           GROUP BY doc_id)
         SELECT DISTINCT a_id, b_id FROM (
           SELECT l.doc_id AS a_id, r.doc_id AS b_id
           FROM sigs l JOIN sigs r ON l.b0 = r.b0 AND l.doc_id < r.doc_id
           UNION ALL
           SELECT l.doc_id AS a_id, r.doc_id AS b_id
           FROM sigs l JOIN sigs r ON l.b1 = r.b1 AND l.doc_id < r.doc_id)""",
    "q48_simhash" -> {
      val bits = (1 to 16).map(i =>
        s"CASE WHEN sum(CASE WHEN substr(md5(tok), $i, 1) >= '8' THEN 1" +
          " ELSE -1 END) > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""SELECT doc_id, $bits AS simhash FROM (
            SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
              w -> w <> '')) AS tok FROM documents)
          GROUP BY doc_id"""
    },
    "q50_rolling_fingerprint" ->
      """SELECT doc_id,
         list_min(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
           i -> md5(substr(text, i, 8)))) AS fp
         FROM documents""",
    "q71_dataset_split" ->
      """SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM (
           SELECT n_chars, CASE WHEN bucket < 80 THEN 'train'
                                WHEN bucket < 90 THEN 'val'
                                ELSE 'test' END AS split
           FROM (
             SELECT n_chars,
               ((strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               % 100 AS bucket
             FROM documents))
         GROUP BY split""",
    "q72_stratified_sample" ->
      """SELECT lang, source, doc_id FROM (
           SELECT lang, source, doc_id,
                  row_number() OVER (PARTITION BY lang, source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) WHERE rn <= 2""",
    "q73_quality_profile" ->
      """SELECT lang, count(*) AS n,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang""",
    "q64_tfidf_top_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                GROUP BY doc_id, tok),
         df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
                GROUP BY tok),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM toks)
         SELECT doc_id, tok, score, rank FROM (
           SELECT doc_id, tf.tok,
                  round(CAST(tf AS DOUBLE) * (SELECT n FROM n) / df, 6)
                    AS score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY round(CAST(tf AS DOUBLE) * (SELECT n FROM n) / df, 6) DESC,
                             tf.tok ASC) AS rank
           FROM tf JOIN df ON tf.tok = df.tok)
         WHERE rank <= 3""",
    "q65_bigram_freq" ->
      """SELECT bigram, count(*) AS n FROM (
           SELECT unnest(list_transform(range(0, len(tokens) - 1),
             i -> array_to_string(list_slice(tokens, i + 1, i + 2), ' ')))
             AS bigram
           FROM (SELECT list_filter(string_split(lower(text), ' '),
                   w -> w <> '') AS tokens FROM documents)
           WHERE len(tokens) >= 2)
         GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",
    "q38_jaccard_pairs" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         round(CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
               / len(list_distinct(list_concat(a.wset, b.wset))), 6) AS jaccard
         FROM (SELECT doc_id, list_sort(list_distinct(
                 list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS wset
               FROM documents) a
         JOIN (SELECT doc_id, list_sort(list_distinct(
                 list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS wset
               FROM documents) b
           ON a.doc_id + 1 = b.doc_id""",

    "q99_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok
           FROM documents),
         vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         tot AS (SELECT count(*) AS total FROM toks)
         SELECT doc_id, count(*) AS n_toks,
                CAST(sum(micro) AS BIGINT) AS logprob_micro,
                CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT)
                  AS avg_micro
         FROM (SELECT doc_id,
                 CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1e6) AS BIGINT)
                   AS micro
               FROM toks JOIN vocab USING (tok) CROSS JOIN tot)
         GROUP BY doc_id""",

    "q100_dup_spans" ->
      """SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(tokens) - 4),
             i -> array_to_string(list_slice(tokens, i + 1, i + 5), ' ')))
             AS span
           FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '')
                     AS tokens
                 FROM documents)
           WHERE len(tokens) >= 5)
         GROUP BY span HAVING count(DISTINCT doc_id) >= 2""",

    "q101_simhash_neardup" -> {
      def bitsum(i: Int, j: Int) =
        s"sum(CASE WHEN (CAST(('0x' || substr(md5(tok), $i, 1)) AS INT) " +
          s"// ${1 << j}) % 2 = 1 THEN 1 ELSE -1 END)"
      val planes = (0 to 3).map(j =>
        "(" + (1 to 16).map(i =>
          s"CASE WHEN ${bitsum(i, j)} > 0 THEN '1' ELSE '0' END")
          .mkString(" || ") + s") AS p$j").mkString(", ")
      val ham = (0 to 3).map(j =>
        s"len(list_filter(range(1, 17), i -> substr(l.p$j, i, 1) <> substr(r.p$j, i, 1)))")
        .mkString(" + ")
      s"""WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
              w -> w <> '')) AS tok
            FROM documents),
          sigs AS (SELECT doc_id, $planes FROM toks GROUP BY doc_id),
          pairs AS (SELECT DISTINCT a_id, b_id FROM (
            SELECT l.doc_id AS a_id, r.doc_id AS b_id FROM sigs l JOIN sigs r
              ON l.p0 = r.p0 AND l.p1 = r.p1 AND l.doc_id < r.doc_id
            UNION ALL
            SELECT l.doc_id AS a_id, r.doc_id AS b_id FROM sigs l JOIN sigs r
              ON l.p2 = r.p2 AND l.p3 = r.p3 AND l.doc_id < r.doc_id))
          SELECT a_id, b_id, CAST($ham AS BIGINT) AS hamming
          FROM pairs JOIN sigs l ON a_id = l.doc_id
                     JOIN sigs r ON b_id = r.doc_id
          WHERE $ham <= 8"""
    },

    "q102_weighted_sample" -> {
      def hexDigit(i: Int) =
        s"(strpos('0123456789abcdef', substr(md5('wsample:' || " +
          s"CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""SELECT doc_id, lang, source, n_chars
          FROM documents
          WHERE (((${hexDigit(1)} * 16 + ${hexDigit(2)}) * 16
                  + ${hexDigit(3)}) * 16 + ${hexDigit(4)}) * 400
                < least(n_chars, 400) * 65536"""
    },

    "q105_incremental_dedup" ->
      """WITH sigs AS (
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
         bandrows AS (
           SELECT doc_id, 0 AS band_id, b0 AS band FROM sigs
           UNION ALL SELECT doc_id, 1, b1 FROM sigs),
         near AS (
           SELECT DISTINCT b.doc_id FROM bandrows b
           WHERE b.doc_id % 2 = 1 AND EXISTS (
             SELECT 1 FROM bandrows e
             WHERE e.doc_id % 2 = 0 AND e.band_id = b.band_id
               AND e.band = b.band)),
         exact AS (
           SELECT DISTINCT doc_id FROM documents
           WHERE doc_id % 2 = 1 AND md5(text) IN (
             SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 2 = 0))
         SELECT d.doc_id,
           CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS exact_dup,
           CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS near_dup,
           CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
                WHEN n.doc_id IS NOT NULL THEN 'review_near'
                ELSE 'keep' END AS action
         FROM documents d
         LEFT JOIN exact e ON d.doc_id = e.doc_id
         LEFT JOIN near n ON d.doc_id = n.doc_id
         WHERE d.doc_id % 2 = 1""",

    "q106_winnow_containment" ->
      """WITH hs AS (
           SELECT doc_id, list_transform(range(1, greatest(length(text) - 23, 1) + 1),
                    i -> md5(substr(text, CAST(i AS INT), 24))) AS hl
           FROM documents),
         fp AS (
           SELECT DISTINCT doc_id, fp FROM (
             SELECT doc_id, unnest(list_transform(
                      range(1, greatest(len(hl) - 7, 1) + 1),
                      j -> list_min(list_slice(hl, CAST(j AS INT),
                                               CAST(j AS INT) + 7)))) AS fp
             FROM hs)),
         sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
           FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id, n_shared,
                round(CAST(n_shared AS DOUBLE) / nfp, 6) AS containment
         FROM pairs JOIN sizes ON a_id = sizes.doc_id
         WHERE n_shared >= 2""",

    "q103_source_mixture" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
         FROM (
           SELECT source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM (
             SELECT doc_id, source,
               CAST(len(list_filter(string_split(lower(text), ' '),
                 w -> w <> '')) AS BIGINT) AS n_tokens,
               md5('mix:' || CAST(doc_id AS VARCHAR)) AS ord
             FROM documents))
         WHERE cum - n_tokens < 3000
         GROUP BY source""",

    "q109_term_drift" ->
      """WITH toks AS (
           SELECT CAST(substr(source, 4) AS INT) % 2 AS side,
                  unnest(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS tok
           FROM documents),
         vocab AS (
           SELECT tok,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
           FROM toks GROUP BY tok),
         tot AS (
           SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
                  CAST(sum(cnt_b) AS BIGINT) AS tot_b,
                  CAST(count(*) AS BIGINT) AS v
           FROM vocab)
         SELECT tok, cnt_a, cnt_b,
           CAST(floor(
             (CAST(cnt_a + 1 AS DOUBLE) / (tot_a + v))
             * ln((CAST(cnt_a + 1 AS DOUBLE) / (tot_a + v))
                  / (CAST(cnt_b + 1 AS DOUBLE) / (tot_b + v)))
             * 1e6) AS BIGINT) AS kl_micro
         FROM vocab, tot
         ORDER BY kl_micro DESC, tok ASC LIMIT 25""",

    "q110_ngram_novelty" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id,
               unnest(list_transform(range(0, len(tokens) - 2),
                 i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' ')))
                 AS shingle
             FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                       w -> w <> '') AS tokens
                   FROM documents)
             WHERE len(tokens) >= 3)),
         freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
         SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000.0
             / count(*)) AS BIGINT) AS novelty_pm
         FROM sh JOIN freq USING (shingle)
         GROUP BY doc_id""",

    "q111_feature_hash" -> (
      """SELECT doc_id, """ +
        (0 until 16).map(j =>
          s"CAST(sum(CASE WHEN slot = $j THEN 1 ELSE 0 END) AS BIGINT) AS s$j")
          .mkString(", ") +
      """ FROM (
           SELECT doc_id,
             strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS slot
           FROM (
             SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                 w -> w <> '')) AS tok
             FROM documents))
         GROUP BY doc_id"""),

    "q116_epoch_shuffle" ->
      """SELECT doc_id, source,
           row_number() OVER (ORDER BY ord, doc_id) - 1 AS pos
         FROM (SELECT doc_id, source,
                 md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS ord
               FROM documents)""",

    "q115_bm25" ->
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
                GROUP BY tok)
         SELECT tf.doc_id, count(*) AS n_hit,
           CAST(sum(CAST(floor(
             1e6 * ln((n - df + 0.5) / (df + 0.5) + 1)
               * (tf * CAST(2.2 AS DOUBLE))
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
                              / (CAST(tot AS DOUBLE) / n)))) AS BIGINT))
             AS BIGINT) AS score_micro
         FROM tf
         JOIN dl ON tf.doc_id = dl.doc_id
         JOIN df ON tf.tok = df.tok, stats
         GROUP BY tf.doc_id""",

    "q113_pack_manifest" ->
      """SELECT doc_id, n_tokens,
           CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT)
             AS start_seq,
           CAST(floor(CAST(cum - 1 AS DOUBLE) / 512) AS BIGINT) AS end_seq,
           CAST(floor(CAST(cum - 1 AS DOUBLE) / 512) AS BIGINT)
             - CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT)
             + 1 AS n_seqs
         FROM (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY ord, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM (
             SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                 w -> w <> '')) AS BIGINT) AS n_tokens,
               md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
             FROM documents)
           WHERE n_tokens > 0)""",
    "q186_multi_pattern" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
                                     w -> length(w) >= 4)) AS token
           FROM documents),
         terms AS (
           SELECT token AS term FROM (
             SELECT token, count(*) AS cnt FROM toks GROUP BY token
             ORDER BY cnt DESC, token ASC LIMIT 20))
         SELECT t.term, CAST(count(*) AS BIGINT) AS n_docs
         FROM terms t JOIN documents d
           ON position(t.term IN lower(d.text)) > 0
         GROUP BY t.term""",
    "q191_bpe_merges" ->
      """WITH t0 AS (
           SELECT doc_id,
                  unnest(range(1, len(tk) + 1)) AS pos,
                  unnest(tk) AS t
           FROM (SELECT doc_id,
                        list_filter(string_split(lower(text), ' '),
                                    w -> w <> '') AS tk
                 FROM documents WHERE doc_id % 10 = 0)),
         n1 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t0 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b1 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n1
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1),
         t1 AS (SELECT doc_id,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                         AS pos,
                       CASE WHEN t = b.x AND nxt = b.y
                            THEN t || '~' || nxt ELSE t END AS t
                FROM n1 CROSS JOIN b1 b
                WHERE NOT COALESCE(prv = b.x AND t = b.y, false)),
         n2 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b2 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n2
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1),
         t2 AS (SELECT doc_id,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                         AS pos,
                       CASE WHEN t = b.x AND nxt = b.y
                            THEN t || '~' || nxt ELSE t END AS t
                FROM n2 CROSS JOIN b2 b
                WHERE NOT COALESCE(prv = b.x AND t = b.y, false)),
         n3 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b3 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n3
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS round, x AS left_tok,
                y AS right_tok, CAST(cnt AS BIGINT) AS pair_count FROM b1
         UNION ALL SELECT 2, x, y, CAST(cnt AS BIGINT) FROM b2
         UNION ALL SELECT 3, x, y, CAST(cnt AS BIGINT) FROM b3""",
    "q197_source_quantile_gate" ->
      """WITH sc AS (
           SELECT doc_id, source,
                  (n_chars * 1000) //
                    len(list_filter(string_split(lower(text), ' '),
                                    w -> w <> '')) AS score_milli
           FROM documents),
         rk AS (
           SELECT doc_id, source, score_milli,
                  rank() OVER (PARTITION BY source
                               ORDER BY score_milli, doc_id) AS rnk,
                  count(*) OVER (PARTITION BY source) AS n
           FROM sc)
         SELECT doc_id, source, score_milli,
                CAST(((rnk - 1) * 1000000) // (n - 1) AS BIGINT)
                  AS pct_micro
         FROM rk WHERE ((rnk - 1) * 1000000) // (n - 1) >= 800000""",
    "q198_contamination_frac" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              w -> w <> '') AS t
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(0, len(t) - 4),
                    i -> array_to_string(t[i+1 : i+5], ' '))) AS g
           FROM toks WHERE len(t) >= 5),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit,
                CAST((sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000000) // count(*) AS BIGINT) AS frac_ppm
         FROM grams LEFT JOIN bench b USING (g)
         WHERE doc_id % 97 <> 0
         GROUP BY doc_id""",
    "q202_bpe_apply" -> {
      // the merge table is q191's oracle CTE chain; application is the
      // doubled-space replace chain with patterns built from the three
      // learned (x, y) scalar pairs
      val learn =
        """t0 AS (
           SELECT doc_id,
                  unnest(range(1, len(tk) + 1)) AS pos,
                  unnest(tk) AS t
           FROM (SELECT doc_id,
                        list_filter(string_split(lower(text), ' '),
                                    w -> w <> '') AS tk
                 FROM documents WHERE doc_id % 10 = 0)),
         n1 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t0 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b1 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n1
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1),
         t1 AS (SELECT doc_id,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                         AS pos,
                       CASE WHEN t = b.x AND nxt = b.y
                            THEN t || '~' || nxt ELSE t END AS t
                FROM n1 CROSS JOIN b1 b
                WHERE NOT COALESCE(prv = b.x AND t = b.y, false)),
         n2 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b2 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n2
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1),
         t2 AS (SELECT doc_id,
                       row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                         AS pos,
                       CASE WHEN t = b.x AND nxt = b.y
                            THEN t || '~' || nxt ELSE t END AS t
                FROM n2 CROSS JOIN b2 b
                WHERE NOT COALESCE(prv = b.x AND t = b.y, false)),
         n3 AS (SELECT doc_id, pos, t,
                       lead(t) OVER w AS nxt, lag(t) OVER w AS prv
                FROM t2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b3 AS (SELECT t AS x, nxt AS y, count(*) AS cnt FROM n3
                WHERE nxt IS NOT NULL AND t <> nxt
                GROUP BY t, nxt ORDER BY cnt DESC, t, nxt LIMIT 1)"""
      s"""WITH $learn
         SELECT doc_id,
                CAST(len(list_filter(string_split(lower(text), ' '),
                  w -> w <> '')) AS BIGINT) AS n_before,
                CAST(len(list_filter(string_split(
                  replace(replace(replace(
                    ' ' || replace(lower(text), ' ', '  ') || ' ',
                    ' ' || (SELECT x FROM b1) || '  ' ||
                      (SELECT y FROM b1) || ' ',
                    ' ' || (SELECT x FROM b1) || '~' ||
                      (SELECT y FROM b1) || ' '),
                    ' ' || (SELECT x FROM b2) || '  ' ||
                      (SELECT y FROM b2) || ' ',
                    ' ' || (SELECT x FROM b2) || '~' ||
                      (SELECT y FROM b2) || ' '),
                    ' ' || (SELECT x FROM b3) || '  ' ||
                      (SELECT y FROM b3) || ' ',
                    ' ' || (SELECT x FROM b3) || '~' ||
                      (SELECT y FROM b3) || ' '),
                  ' '), w -> w <> '')) AS BIGINT) AS n_after,
                CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w <> ''))
                  - len(list_filter(string_split(
                  replace(replace(replace(
                    ' ' || replace(lower(text), ' ', '  ') || ' ',
                    ' ' || (SELECT x FROM b1) || '  ' ||
                      (SELECT y FROM b1) || ' ',
                    ' ' || (SELECT x FROM b1) || '~' ||
                      (SELECT y FROM b1) || ' '),
                    ' ' || (SELECT x FROM b2) || '  ' ||
                      (SELECT y FROM b2) || ' ',
                    ' ' || (SELECT x FROM b2) || '~' ||
                      (SELECT y FROM b2) || ' '),
                    ' ' || (SELECT x FROM b3) || '  ' ||
                      (SELECT y FROM b3) || ' ',
                    ' ' || (SELECT x FROM b3) || '~' ||
                      (SELECT y FROM b3) || ' '),
                  ' '), w -> w <> '')) AS BIGINT) AS n_merged
         FROM documents"""
    },
    "q210_gopher_repetition" ->
      """WITH base AS (
           SELECT doc_id, n_chars,
                  list_filter(string_split(lower(text), ' '),
                              w -> w <> '') AS t
           FROM documents),
         b2 AS (
           SELECT doc_id, n_chars, t, CAST(len(t) AS BIGINT) AS n_toks
           FROM base WHERE len(t) >= 10),
         grams AS (
           SELECT doc_id,
                  array_to_string(t[i + 1 : i + 2], ' ') AS gram
           FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i
                 FROM b2)),
         topg AS (
           SELECT doc_id,
                  max(struct_pack(cnt := cnt, gram := gram)) AS m
           FROM (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
                 FROM grams GROUP BY 1, 2)
           GROUP BY doc_id),
         topg2 AS (
           SELECT doc_id, m.cnt * length(m.gram) AS g_chars FROM topg),
         topw AS (
           SELECT doc_id, max(struct_pack(cnt := cnt, w := w)) AS m
           FROM (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT doc_id, unnest(t) AS w FROM b2)
                 GROUP BY 1, 2)
           GROUP BY doc_id),
         segs AS (
           SELECT doc_id,
                  array_to_string(t[i * 3 + 1 : i * 3 + 3], ' ') AS seg
           FROM (SELECT doc_id, t,
                        unnest(range(CAST(ceil(len(t) / 3.0) AS BIGINT)))
                          AS i
                 FROM b2)),
         segstats AS (
           SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_segs,
                  CAST(sum(cnt - 1) AS BIGINT) AS dup_segs
           FROM (SELECT doc_id, seg, count(*) AS cnt
                 FROM segs GROUP BY 1, 2)
           GROUP BY doc_id)
         SELECT b2.doc_id,
                g_chars * 1000000 // n_chars AS top2gram_ppm,
                w_cnt * 1000000 // n_toks AS topword_ppm,
                dup_segs * 1000000 // n_segs AS dupseg_ppm,
                CASE WHEN g_chars * 1000000 // n_chars <= 100000
                      AND w_cnt * 1000000 // n_toks <= 110000
                      AND dup_segs = 0
                     THEN 1 ELSE 0 END AS keep
         FROM b2
         JOIN topg2 USING (doc_id)
         JOIN (SELECT doc_id, m.cnt AS w_cnt FROM topw) tw
           ON tw.doc_id = b2.doc_id
         JOIN segstats USING (doc_id)""",
    "q211_withindoc_dedup" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              w -> w <> '') AS t
           FROM documents),
         segs AS (
           SELECT doc_id, i AS seg_idx,
                  array_to_string(t[i * 3 + 1 : i * 3 + 3], ' ') AS seg
           FROM (SELECT doc_id, t,
                        unnest(range(CAST(ceil(len(t) / 3.0) AS BIGINT)))
                          AS i
                 FROM toks WHERE len(t) > 0)),
         ranked AS (
           SELECT doc_id, seg_idx, seg,
                  row_number() OVER (PARTITION BY doc_id, seg
                                     ORDER BY seg_idx) AS rn
           FROM segs)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                array_to_string(
                  list_transform(
                    list_sort(list(struct_pack(seg_idx := seg_idx,
                                               seg := seg))
                              FILTER (WHERE rn = 1)),
                    x -> x.seg), ' ') AS text_dedup
         FROM ranked GROUP BY doc_id""",
    "q235_padding_audit" ->
      """WITH toks AS (
           SELECT CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS BIGINT) AS n_tok
           FROM documents),
         g AS (
           SELECT n_tok // 32 AS bucket, count(*) AS n_docs,
                  sum(n_tok) AS sum_tok, max(n_tok) AS max_tok
           FROM toks GROUP BY 1),
         b AS (
           SELECT *, (n_docs + 7) // 8 AS n_batches FROM g),
         p AS (
           SELECT *, n_batches * 8 * max_tok AS padded_tok FROM b)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(n_docs AS BIGINT) AS n_docs,
                CAST(sum_tok AS BIGINT) AS sum_tok,
                CAST(max_tok AS BIGINT) AS max_tok,
                CAST(n_batches AS BIGINT) AS n_batches,
                CAST(padded_tok AS BIGINT) AS padded_tok,
                CAST((padded_tok - sum_tok) * 1000000 // padded_tok
                  AS BIGINT) AS waste_ppm
         FROM p""",
    "q236_zipf_audit" ->
      """WITH tok AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS tok
           FROM documents),
         f AS (SELECT tok, count(*) AS freq FROM tok GROUP BY 1),
         binned AS (
           SELECT CAST(length(bin(freq)) AS BIGINT) AS log2_bin, freq
           FROM f)
         SELECT log2_bin, CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(freq) AS BIGINT) AS n_occ,
                CAST(min(freq) AS BIGINT) AS min_freq,
                CAST(max(freq) AS BIGINT) AS max_freq
         FROM binned GROUP BY 1""",
    "q237_novelty_rate" ->
      """WITH docs AS (
           SELECT doc_id // 50 AS batch,
                  list_filter(string_split(lower(text), ' '),
                    w -> w <> '') AS tokens
           FROM documents),
         pairs AS (
           SELECT DISTINCT batch,
                  unnest(list_transform(range(0, len(tokens) - 2),
                    i -> array_to_string(list_slice(tokens, i + 1,
                      i + 3), ' '))) AS shingle
           FROM docs WHERE len(tokens) >= 3),
         totals AS (
           SELECT batch, count(*) AS n_shingles FROM pairs GROUP BY 1),
         firsts AS (
           SELECT first_batch AS batch, count(*) AS n_new FROM (
             SELECT shingle, min(batch) AS first_batch
             FROM pairs GROUP BY 1) GROUP BY 1)
         SELECT CAST(t.batch AS BIGINT) AS batch,
                CAST(n_shingles AS BIGINT) AS n_shingles,
                CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
                CAST(coalesce(n_new, 0) * 1000000 // n_shingles
                  AS BIGINT) AS novelty_ppm
         FROM totals t LEFT JOIN firsts f ON f.batch = t.batch""",
    "q243_loso_valuation" ->
      """WITH docs AS (
           SELECT source,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS BIGINT) AS n_tok
           FROM documents),
         per AS (
           SELECT source, count(*) AS n_docs, sum(n_tok) AS sum_tok
           FROM docs GROUP BY 1),
         tot AS (
           SELECT sum(n_docs) AS t_docs, sum(sum_tok) AS t_tok FROM per),
         pairs AS (
           SELECT DISTINCT source,
                  unnest(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS tok
           FROM documents),
         uniq AS (
           SELECT source, count(*) AS uniq_tokens FROM (
             SELECT tok, count(*) AS n_src, min(source) AS source
             FROM pairs GROUP BY 1)
           WHERE n_src = 1 GROUP BY source),
         j AS (
           SELECT p.source, p.n_docs, p.sum_tok,
                  coalesce(u.uniq_tokens, 0) AS uniq_tokens,
                  t.t_docs, t.t_tok
           FROM per p CROSS JOIN tot t
           LEFT JOIN uniq u ON u.source = p.source)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(sum_tok AS BIGINT) AS sum_tok,
                CAST(sum_tok // n_docs AS BIGINT) AS mean_tok,
                CAST((t_tok - sum_tok) // (t_docs - n_docs) AS BIGINT)
                  AS loso_mean_tok,
                CAST(((t_tok - sum_tok) // (t_docs - n_docs)
                      - t_tok // t_docs) * 1000000
                     // (t_tok // t_docs) AS BIGINT) AS delta_ppm,
                CAST(uniq_tokens AS BIGINT) AS uniq_tokens
         FROM j""",
    "q263_textrank_keywords" ->
      s"""WITH toks AS (
           SELECT list_filter(string_split(lower(text), ' '),
             w -> w <> '') AS tokens
           FROM documents),
         adj AS (
           SELECT string_split(pr, chr(1))[1] AS a,
                  string_split(pr, chr(1))[2] AS b
           FROM (
             SELECT unnest(list_transform(range(0, len(tokens) - 1),
               i -> array_to_string(list_slice(tokens, i + 1, i + 2),
                 chr(1)))) AS pr
             FROM toks WHERE len(tokens) >= 2)
           WHERE string_split(pr, chr(1))[1] <> string_split(pr, chr(1))[2]),
         vocab AS (
           SELECT w FROM (
             SELECT unnest(tokens) AS w FROM toks)
           GROUP BY w HAVING count(*) >= $MinCnt),
         e0 AS (
           SELECT least(a, b) AS u, greatest(a, b) AS v,
             count(*) AS wt
           FROM adj
           WHERE a IN (SELECT w FROM vocab) AND b IN (SELECT w FROM vocab)
           GROUP BY 1, 2),
         edges AS (SELECT u AS src, v AS dst, wt FROM e0
                   UNION ALL SELECT v, u, wt FROM e0),
         wdeg AS (SELECT src, CAST(sum(wt) AS BIGINT) AS wdeg
                  FROM edges GROUP BY src),
         r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM wdeg),
         c1 AS (SELECT e.dst, (r.r * e.wt) // d.wdeg AS share
                FROM edges e JOIN r0 r ON r.id = e.src
                JOIN wdeg d ON d.src = e.src),
         r1 AS (SELECT dst AS id,
                  CAST(150000 + (sum(share) * 85) // 100 AS BIGINT) AS r
                FROM c1 GROUP BY dst),
         c2 AS (SELECT e.dst, (r.r * e.wt) // d.wdeg AS share
                FROM edges e JOIN r1 r ON r.id = e.src
                JOIN wdeg d ON d.src = e.src),
         r2 AS (SELECT dst AS id,
                  CAST(150000 + (sum(share) * 85) // 100 AS BIGINT) AS r
                FROM c2 GROUP BY dst)
         SELECT id AS keyword, r AS rank_score
         FROM r2 ORDER BY r DESC, id ASC LIMIT 25""",

    "q276_vocab_coverage" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok
           FROM documents),
         vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         tot AS (SELECT count(*) AS n_total FROM toks),
         ranked AS (
           SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rn,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM vocab)
         SELECT CAST(rn AS BIGINT) AS vocab_k, cum AS n_covered, n_total,
           cum * 1000000 // n_total AS coverage_ppm
         FROM ranked CROSS JOIN tot
         WHERE rn IN (1, 3, 10, 30, 100, 300)""",
    "q302_texttiling_segmentation" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, (pos - 1) // 20 AS blk, tok FROM (
             SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                 w -> w <> '')) AS tok,
               unnest(range(1, len(list_filter(
                 string_split(lower(text), ' '), w -> w <> '')) + 1))
                 AS pos
             FROM documents)),
         sizes AS (
           SELECT doc_id, blk, count(*) AS sz
           FROM toks GROUP BY 1, 2),
         inter AS (
           SELECT a.doc_id, a.blk, count(*) AS inter
           FROM toks a JOIN toks b
             ON a.doc_id = b.doc_id AND b.blk = a.blk + 1
             AND a.tok = b.tok
           GROUP BY 1, 2),
         seams AS (
           SELECT s1.doc_id, s1.blk,
             coalesce(i.inter, 0) * 1000000
               // (s1.sz + s2.sz - coalesce(i.inter, 0)) AS jac_ppm
           FROM sizes s1
           JOIN sizes s2 ON s1.doc_id = s2.doc_id
             AND s2.blk = s1.blk + 1
           LEFT JOIN inter i ON s1.doc_id = i.doc_id
             AND s1.blk = i.blk),
         agg AS (
           SELECT doc_id, count(*) AS n_seams, sum(jac_ppm) AS sum_jac,
                  min(jac_ppm) AS min_jac_ppm
           FROM seams GROUP BY 1)
         SELECT a.doc_id, CAST(a.n_seams AS BIGINT) AS n_seams,
           CAST(sum(CASE WHEN 2 * a.n_seams * s.jac_ppm < a.sum_jac
             THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
           CAST(a.min_jac_ppm AS BIGINT) AS min_jac_ppm,
           CAST(a.sum_jac // a.n_seams AS BIGINT) AS mean_jac_ppm
         FROM agg a JOIN seams s ON a.doc_id = s.doc_id
         GROUP BY a.doc_id, a.n_seams, a.min_jac_ppm, a.sum_jac""",

    "q316_zipf_exponent" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
         ranked AS (
           SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS r
           FROM freq),
         top AS (
           SELECT
             CAST(floor(ln(1.0 * r) * 1000000) AS BIGINT) AS x,
             CAST(floor(ln(1.0 * cnt) * 1000000) AS BIGINT) AS y,
             cnt
           FROM ranked WHERE r <= 200),
         m AS (
           SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             max(cnt) AS top_cnt
           FROM top)
         SELECT CAST(n AS BIGINT) AS n_terms,
           CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
             * 1000000
             // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
             AS BIGINT) AS slope_ppm,
           CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
             * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
             * 1000000
             // ((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                * (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy))
             AS BIGINT) AS r2_ppm,
           CAST(top_cnt AS BIGINT) AS top_cnt
         FROM m""",
    "q327_phrase_occurrences" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS t
           FROM documents),
         sh AS (
           SELECT doc_id, i AS pos,
             t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
           FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i
                 FROM toks WHERE len(t) >= 3)),
         top AS (
           SELECT shingle AS phrase, count(*) AS n_total
           FROM sh GROUP BY 1
           ORDER BY n_total DESC, phrase LIMIT 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(max(n_total) AS BIGINT) AS n_total
         FROM sh JOIN top ON sh.shingle = top.phrase
         GROUP BY doc_id""",

    "q338_readability_scorecard" ->
      """WITH perdoc AS (
           SELECT source,
             len(list_filter(string_split(text, '.'),
               x -> length(trim(x)) > 0)) AS sents,
             len(list_filter(string_split(lower(text), ' '),
               w -> w <> '')) AS words,
             list_sum(list_transform(
               list_filter(string_split(lower(text), ' '), w -> w <> ''),
               w -> greatest(1, len(list_filter(
                 regexp_split_to_array(w, '[^aeiou]+'), g -> g <> '')))))
               AS sylls
           FROM documents),
         g AS (
           SELECT source, count(*) AS n_docs, sum(sents) AS sents,
             sum(words) AS words, sum(sylls) AS sylls
           FROM perdoc WHERE sents > 0 AND words > 0
           GROUP BY 1)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sents AS BIGINT) AS sents,
           CAST(words AS BIGINT) AS words,
           CAST(sylls AS BIGINT) AS sylls,
           CAST(206835000 - 1015000 * words // sents
             - 84600000 * sylls // words AS BIGINT) AS flesch_micro
         FROM g""",

    "q350_kwic_contexts" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS t
           FROM documents),
         sh AS (
           SELECT doc_id, t, i AS pos,
             t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS shingle
           FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i
                 FROM toks WHERE len(t) >= 3)),
         top AS (
           SELECT shingle AS phrase FROM sh GROUP BY 1
           ORDER BY count(*) DESC, shingle LIMIT 1)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos, phrase,
           array_to_string(list_slice(t, greatest(1, pos - 2),
             greatest(1, pos - 2) + least(len(t) - 1, pos + 5)
               - greatest(0, pos - 3)), ' ') AS context
         FROM sh JOIN top ON sh.shingle = top.phrase""",
    "q351_chao1_vocab" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         m AS (
           SELECT count(*) AS d_types, sum(c) AS n_tokens,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
             sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
           FROM freq)
         SELECT CAST(d_types AS BIGINT) AS d_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
           CAST(d_types + (f1 * f1) // (2 * greatest(1, f2)) AS BIGINT)
             AS chao1,
           CAST(f1 * 1000000 // n_tokens AS BIGINT) AS unseen_mass_ppm
         FROM m""",

    "q362_sequence_entropy_rate" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id,
             event_type AS cur
           FROM events),
         tr0 AS (
           SELECT cur, lead(cur) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS nxt
           FROM ev),
         tr AS (
           SELECT cur, nxt, count(*) AS n_pair
           FROM tr0 WHERE nxt IS NOT NULL GROUP BY 1, 2),
         ct AS (SELECT cur, sum(n_pair) AS n_cur FROM tr GROUP BY 1),
         nn AS (SELECT sum(n_pair) AS nn FROM tr),
         cells AS (
           SELECT tr.cur,
             -(n_pair * CAST(floor(ln((1.0 * n_pair) / n_cur)
               * 1000000) AS BIGINT)) // nn AS h_term_micro
           FROM tr JOIN ct ON tr.cur = ct.cur, nn),
         per AS (
           SELECT cells.cur,
             CAST(max(ct.n_cur) AS BIGINT) AS n_transitions,
             CAST(sum(h_term_micro) AS BIGINT) AS h_micro
           FROM cells JOIN ct ON cells.cur = ct.cur
           GROUP BY 1)
         SELECT cur, n_transitions, h_micro FROM per
         UNION ALL
         SELECT '__all__', CAST(sum(n_transitions) AS BIGINT),
           CAST(sum(h_micro) AS BIGINT)
         FROM per""",
    "q179_inverted_index" ->
      """WITH docs AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
           FROM documents),
         tok AS (
           SELECT doc_id, pos, tokens[pos + 1] AS tok
           FROM (SELECT doc_id, tokens,
                   unnest(range(0, len(tokens))) AS pos
                 FROM docs)),
         h AS (
           SELECT tok, doc_id,
             CAST(('0x' || substr(md5(doc_id || ':' || pos || ':' || tok),
               1, 13)) AS BIGINT) AS hv
           FROM tok)
         SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS cf,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           bit_xor(hv) AS postings_xor
         FROM h GROUP BY tok""")
}
