package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table
import graft.operators.TextKernel.{minhash, ngrams, segments, shingles, words}

/** Near-duplicate detection, entity resolution and record linkage,
  * built on TextOps' shingles, MinHash signatures and LSH banding:
  * sketch set algebra, URL and exact-substring dedup, fuzzy joins,
  * segment-level dedup, entity resolution and LSH calibration,
  * content-defined chunk dedup, threshold sweeps, method-agreement
  * audits, probabilistic linkage and blocking quality.
  */
object DedupOps extends QueryModule {
  /** Fixed segment length (tokens) for q196. */
  private val SegLen = 20

  /** Sketch size: estimates are ±~1/√k; 64 matches q60's KMV. */
  private val K = 64

  /** Span length for the exact-substring dedup pass (q172). */
  private val SpanLen = 5

  /** `nm` and every string one character deletion away from it: two
    * strings within edit distance 1 share at least one variant. */
  private def deletionVariants: Column = expr(
    """array_union(array(nm), transform(sequence(1, length(nm)),
       i -> concat(substring(nm, 1, i - 1),
                   substring(nm, i + 1, length(nm) - i))))""")

  val queries: Map[String, Q] = Map(
    // ---- q196: segment-level exact dedup with recompose ----------------
    // q196 segment-level exact dedup with recompose: the Dolma/CCNet
    // "paragraph dedup" shape — corpus-wide keep-first over fixed
    // 20-token segments, then per-document survival accounting. One
    // window shuffle keyed on the segment; everything else is map-side.
    // Segments = consecutive 20-token windows (deterministic segmentation
    // of the single-line corpus; on real prose the splitter is the
    // paragraph boundary and nothing else changes). Corpus-wide
    // keep-first: ONE window shuffle keyed on the segment text, first
    // occurrence in (doc_id, seg_idx) order survives. Per doc the output
    // is survival accounting (n_segs/n_kept/kept_chars) — the recompose
    // itself is array_join of the kept segments in seg_idx order, which
    // the gate's aggregate totals pin without hashing megabytes of text.
    // At 100 TB the window key is xxhash64(seg) (64-bit, shuffles 8
    // bytes instead of the segment text); the string key is kept here so
    // the result is bit-identical to the SQL oracle even under hash
    // collisions.
    "q196_segment_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val segs = docs.select(col("doc_id"),
        posexplode(segments(col("t"), SegLen)))
        .toDF("doc_id", "seg_idx", "seg")
      val firstSeen = Window.partitionBy("seg")
        .orderBy(col("doc_id"), col("seg_idx"))
      segs.withColumn("rn", row_number().over(firstSeen))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") === 1, length(col("seg")).cast("long"))
            .otherwise(0L)).as("kept_chars"))
    }),

    // ---- q217: entity resolution end-to-end ----------------------------
    // q217 entity resolution end-to-end: FastSS edit-distance-1
    // blocking → exact verify → connected components → golden-record
    // merge, on (supplier name, nation) composite records.
    // The full ER pipeline a record-linkage job runs: candidate pairs
    // from FastSS deletion-neighborhood blocking on the composite
    // (name, nation) record (q175's discipline — O(len) variants per
    // record, equi-join on the variant, exact levenshtein only on
    // candidates), transitive closure via hash-min connected
    // components (entity id = min member key), then the golden-record
    // merge per entity. The nation suffix is the blocking field:
    // cross-nation near-misses stay separate entities, exactly as a
    // production linkage keys its blocks. CC runs to convergence
    // (chains of distance-1 names can be long); every stage's shuffle
    // keys on the variant / node / entity — never all-pairs.
    "q217_entity_resolution" -> ((s, d) => {
      val recs = table(s, d, "supplier")
        .join(table(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("id"),
          concat(lower(col("s_name")), lit(" "), lower(col("n_name")))
            .as("nm"),
          expr("CAST(floor(s_acctbal * 100) AS BIGINT)").as("cents"))
      // The variant exchange carries IDS ONLY (r12, guide §2.3: shuffle
      // keys and metadata, not payloads): the join key is the 8-byte
      // xxhash64 of the variant string and the record's name does NOT
      // ride the explode — names are re-attached at the PAIR grain (a
      // per-id lookup joined to the distinct-pair set) before the exact
      // levenshtein verify. Result-identical by the
      // FastSS completeness argument: lev(a,b) <= 1 implies a shared
      // TRUE variant (equal -> nm itself, which array_union keeps;
      // deletion -> the shorter IS a deletion variant of the longer and
      // its own nm; substitution -> deleting the substituted position
      // from both sides yields the same string), so hashing the variant
      // can only ADD candidates (64-bit collisions), never lose one —
      // and every candidate, exact or collided, passes the same
      // levenshtein <= 1 verify that defined the old pair set. At
      // corpus scale this halves-plus the variant exchange bytes (two
      // ~30-char strings per row -> 8+8 bytes) and moves the distinct
      // onto a (long, long) pair key.
      // The names side has one row per record, so it grows with the
      // corpus: no broadcast hint, AQE picks the join from its runtime
      // size.
      val variants = recs
        .select(col("id"), explode(deletionVariants).as("variant"))
        .select(col("id"), xxhash64(col("variant")).as("vh"))
      val a = variants.select(col("vh"), col("id").as("a_id"))
      val b = variants.select(col("vh"), col("id").as("b_id"))
      val names = recs.select(col("id"), col("nm"))
      val pairs = a.join(b, "vh").filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
        .join(names.select(col("id").as("a_id"), col("nm").as("a_nm")),
          "a_id")
        .join(names.select(col("id").as("b_id"), col("nm").as("b_nm")),
          "b_id")
        .filter(levenshtein(col("a_nm"), col("b_nm")) <= 1)
        .select("a_id", "b_id")
      val comp = GraphOps.connectedComponents(pairs)
        .withColumnRenamed("id", "mid")
      recs.join(comp, recs("id") === col("mid"), "left_outer")
        .select(col("id"), col("nm"), col("cents"),
          coalesce(col("comp"), col("id")).as("entity"))
        .groupBy("entity")
        .agg(count(lit(1)).as("n_members"), min("nm").as("canonical"),
          max("cents").as("max_cents"), sum("cents").as("total_cents"))
    }),

    // ---- q218: empirical LSH S-curve (banding calibration) -------------
    // q218 empirical LSH S-curve: banded-MinHash detection rate by
    // exact-Jaccard decile over a hash-sampled doc subset — the
    // calibration evidence for choosing band/row counts before
    // trusting the q37 banding at corpus scale.
    // Measure the 2-band/2-row MinHash banding's detection probability
    // as a function of TRUE Jaccard, the way a dedup deployment
    // calibrates b/r before trusting q37's candidates at corpus scale:
    // each doc in a fixed hash sample (doc_id % 5 — the calibration
    // budget, constant per corpus) is paired with NINE controlled
    // degradations of itself (perturbation strength k/10 replaces each
    // token deterministically by hash, so the pair's exact shingle
    // Jaccard sweeps the whole [0,1] range — the corpus's organic pairs
    // alone are bimodal: exact dups or nothing). Exact Jaccard, both
    // signatures, and band agreement are all computed PER ROW with
    // array lambdas — zero shuffle before the final |deciles|-row
    // rollup, and the whole audit costs sample_size × 9 map-side rows
    // at any corpus size. detect_ppm by decile IS the empirical
    // S-curve; BandingSpec in Wave19Spec checks it is monotone and
    // pins the analytic 1-(1-s²)² curve within sampling error.
    "q218_lsh_scurve" -> ((s, d) => {
      // The UNPERTURBED side — shingle set and signature — is a
      // function of the doc alone, so it is computed ONCE PER DOC before
      // the 9-way k-explode instead of once per (doc, k) row. Each
      // signature is the native minhash over all shingles, whose
      // per-slot minimum equals the oracle's minimum over the distinct
      // shingle set.
      def shingleSet(c: String) = array_distinct(ngrams(col(c), 3))
      val docs = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("t"))
        .filter(col("doc_id") % 5 === 0 && size(col("t")) >= 20)
        .withColumn("sa", shingleSet("t"))
        .withColumn("ma", minhash(col("t")))
        .select(col("doc_id"), col("t"), col("sa"), col("ma"),
          explode(sequence(lit(1), lit(9))).as("k"))
      // i sweeps explicit 0-based positions so the Spark and DuckDB
      // lambdas agree exactly; the salted '?' prefix can never collide
      // with a real token.
      val perturbed = docs.withColumn("tv", expr(
        """transform(sequence(0, size(t) - 1),
             i -> CASE WHEN CAST(conv(substring(md5(concat(
                         CAST(doc_id AS STRING), ':', CAST(i AS STRING),
                         ':', CAST(k AS STRING))), 1, 4), 16, 10)
                         AS BIGINT) % 10 < k
                       THEN concat('?', element_at(t, i + 1))
                       ELSE element_at(t, i + 1) END)"""))
      // detected: the pair shares an LSH band, i.e. both slots of
      // band 0 or both slots of band 1 agree
      def slotsAgree(ks: Int*) = ks.map(k =>
        element_at(col("ma"), k) === element_at(col("mv"), k)).reduce(_ && _)
      val scored = perturbed
        .withColumn("sv", shingleSet("tv"))
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sv"))).cast("long"))
        .withColumn("uni",
          (size(col("sa")) + size(col("sv"))).cast("long") - col("inter"))
        .withColumn("mv", minhash(col("tv")))
        .select(
          least(lit(9L), expr("(inter * 10) div uni")).as("decile"),
          when(slotsAgree(1, 2) || slotsAgree(3, 4), 1L).otherwise(0L)
            .as("detected"))
      scored.groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"), sum("detected").as("n_detected"))
        .withColumn("detect_ppm",
          expr("n_detected * 1000000 div n_pairs"))
    }),

    // ---- q223: content-defined chunking dedup --------------------------
    // q223 content-defined chunking dedup: stateless rolling-window
    // boundary predicate (hash of a 4-char window ≡ 0 mod 37) splits
    // each document into content-defined chunks, then chunk-level
    // duplication stats — insertions/deletions shift byte offsets but
    // not chunk identity, the property fixed-size blocking lacks.
    // Restic/LBFS-style chunking with a STATELESS boundary predicate
    // (md5 of the 4-char window at position i ≡ 0 mod 37 ⇒ expected
    // chunk ≈ 37 chars): chunk identity depends only on local content,
    // so shared runs between near-duplicate documents land in
    // identical chunks regardless of offset shifts. Everything up to
    // the final chunk rollup is per-row array lambdas — zero shuffle
    // until the (chunk)-keyed count, which map-side combines. Output:
    // every chunk appearing ≥ 2 times with its duplication stats (the
    // input to a chunk-store sizing / dedup-ratio decision).
    "q223_cdc_chunks" -> ((s, d) => {
      // cdc_chunks is the native kernel for the former relational cut
      // expression (array_sort/filter/sequence over md5'd 4-char
      // windows) — byte-identical chunks, one pass over the document
      // bytes, zero per-window allocation (see CdcChunks.scala, which
      // embeds the replaced SQL verbatim; CdcChunksSpec pins
      // equivalence against that SQL form on mixed ASCII/non-ASCII).
      table(s, d, "documents")
        .select(col("doc_id"),
          explode(expr("cdc_chunks(text)")).as("chunk"))
        .groupBy("chunk")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occ") >= 2)
        .select(md5(col("chunk")).as("chunk_hash"),
          length(col("chunk")).cast("long").as("chunk_len"),
          col("n_occ"), col("n_docs"))
    }),

    // ---- q291: near-dup threshold operating curve ---------------------
    // q291 dedup threshold sweep: near-dup pair and flagged-doc
    // counts as a function of the Jaccard cutoff — the operating
    // curve a dedup deployment reads before committing to a
    // threshold (complements q218's band-calibration S-curve).
    // Candidate pairs come from the banded-MinHash index (the q140
    // discipline: the exact-Jaccard verify touches ONLY candidates —
    // semi-filtered, broadcast id set — never the corpus); each pair's
    // exact integer jac_ppm is then swept across the 9 decile cutoffs
    // with a ≤9× bounded fan-out. Flagged docs per cutoff = distinct
    // members of any surviving pair. Grid-joined so a cutoff no pair
    // reaches still reports 0 — a missing operating point misleads
    // exactly when dedup is too aggressive.
    "q291_dedup_threshold_sweep" -> ((s, d) => {
      val jac = TextOps.verifiedJaccardPairs(s, d)
      val nDocs = table(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val grid = s.range(1, 10)
        .select((col("id") * 100000L).as("thr_ppm"))
      val swept = jac.crossJoin(grid)
        .filter(col("jac_ppm") >= col("thr_ppm")).persist()
      val byThr = swept.groupBy("thr_ppm").agg(count(lit(1)).as("n_pairs"))
      val flagged = swept
        .select(col("thr_ppm"),
          explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .groupBy("thr_ppm")
        .agg(countDistinct("doc_id").as("n_flagged"))
      grid.join(byThr, Seq("thr_ppm"), "left_outer")
        .join(flagged, Seq("thr_ppm"), "left_outer")
        .na.fill(0L, Seq("n_pairs", "n_flagged"))
        .crossJoin(broadcast(nDocs))
        .select(col("thr_ppm"), col("n_pairs"), col("n_flagged"),
          expr("n_flagged * 1000000 div n_docs").as("flagged_ppm"))
    }),

    // ---- q295: which dedup layers agree? ------------------------------
    // q295 dedup method-agreement audit: the Venn decomposition of
    // exact-hash, verified-MinHash and SimHash duplicate flags — the
    // report a curation team reads to decide which dedup layers are
    // redundant and which catch unique families.
    // Three independent duplicate signals per document — exact
    // (md5(text) shared with any other doc), near (member of a
    // verified-Jaccard ≥ 0.5 LSH pair — the q291 verify stage), and
    // SimHash (16-bit signature shared) — left-joined onto the corpus
    // and rolled up into the 2³ flag combinations. All three signals
    // are candidate/key-bounded (hash groupBys + the LSH verify);
    // the final rollup is 8 rows. A method that only ever fires
    // alongside another is redundant; a combination like
    // (exact=false, near=true) sizes what MinHash uniquely catches.
    "q295_dedup_method_agreement" -> ((s, d) => {
      // Exact and SimHash flags as COUNT windows over their key instead
      // of groupBy+left-semi self-joins: the former shape scanned the
      // corpus twice per signal (once for the counts, once for the semi
      // probe) and q48 twice; a window computes "does my key repeat"
      // in the signal's one key-partitioned shuffle (guide §2.4). The
      // isNotNull guards pin the semi-join's null semantics (a null
      // key never matched itself, while a window would group nulls).
      // Flag sets — and so the 8-row rollup — are identical.
      import org.apache.spark.sql.expressions.Window
      val texts = table(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("th"))
      val exactDocs = texts
        .withColumn("n", count(lit(1)).over(Window.partitionBy("th")))
        .filter(col("n") > 1 && col("th").isNotNull)
        .select(col("doc_id")).withColumn("e", lit(1L))
      val nearDocs = TextOps.verifiedJaccardPairs(s, d)
        .filter(col("jac_ppm") >= 500000L)
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct().withColumn("nf", lit(1L))
      val simDocs = TextOps.queries("q48_simhash")(s, d)
        .withColumn("n", count(lit(1)).over(Window.partitionBy("simhash")))
        .filter(col("n") > 1 && col("simhash").isNotNull)
        .select(col("doc_id")).withColumn("sf", lit(1L))
      table(s, d, "documents").select(col("doc_id"))
        .join(exactDocs, Seq("doc_id"), "left_outer")
        .join(nearDocs, Seq("doc_id"), "left_outer")
        .join(simDocs, Seq("doc_id"), "left_outer")
        .select(
          (coalesce(col("e"), lit(0L)) === 1L).as("exact_dup"),
          (coalesce(col("nf"), lit(0L)) === 1L).as("near_dup"),
          (coalesce(col("sf"), lit(0L)) === 1L).as("simhash_dup"))
        .groupBy("exact_dup", "near_dup", "simhash_dup")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Probabilistic record linkage and rank-agreement
    // audits — the two classic "are these the same?" questions a curation
    // fleet asks of its upstream feeds (reference: the resolver join of
    // `pipeline/resolve.py:55-90` decides identity by exact key; q313
    // adds the Fellegi–Sunter probabilistic tier used when keys are dirty)
    // plus the Kendall-tau agreement metric for comparing two ranking
    // policies over the same population.

    // ---- q313: Fellegi–Sunter probabilistic record linkage ------------
    // Two noisy views of the customer feed (B lowercases 1/13 of the
    // names, blanks 1/7 of the segments, shifts 1/11 of the balance
    // buckets; each side drops a different 1/17 vs 1/19 slice).
    // u-probabilities are ESTIMATED FROM THE DATA — per-field value
    // frequencies joined A×B give Σ fA(v)·fB(v) agreeing pairs over
    // den = |A|·|B| random pairs; m is pinned at 19/20. Agreement /
    // disagreement weights are micro-nat log-likelihood ratios
    // (exact-integer ln discipline, identical expression text both
    // engines); the weight frame is ONE row crossed in via broadcast.
    //
    // CANDIDATES: multi-pass SORTED NEIGHBORHOOD inside the nation
    // block — both sides union into one frame, ranked per nation by
    // two canonicalized sort keys (lower(name) then balance-bucket;
    // balance-bucket then lower(name)), and each record pairs with the
    // next w=8 cross-side records under each ordering (explode of
    // rank offsets → pure equi-join, no range join). Candidates are
    // therefore O(n·w) AT ANY CORPUS SIZE. Round 6 blocked on nation
    // alone: block COUNT is fixed (25), so block sizes — and the
    // scored pair set — grew quadratically; the round-7 sf1 run
    // measured it at 60× for 10× data (88 s), the single worst
    // scale-up in the suite, and the output itself (16M weak
    // candidates) was the quadratic artifact. Multi-pass SNM is the
    // method's own classic fix: the lower(nm) pass finds name-evidence
    // pairs (including the lowercased mutants — the sort key is
    // canonicalized precisely so case noise stays adjacent), the bb
    // pass finds balance-evidence pairs, and weak seg-only pairs that
    // the quadratic form enumerated only to score below threshold are
    // never generated.
    "q313_fellegi_sunter_linkage" -> ((s, d) => {
      val c = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("k"),
        col("c_name").as("nm"),
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT) div 100000").as("bb"))
      val a = c.filter(col("k") % 19 =!= 0).select(
        col("k").as("a_key"), col("nat"),
        col("nm").as("nm_a"), col("seg").as("seg_a"), col("bb").as("bb_a"))
      val b = c.filter(col("k") % 17 =!= 0).select(
        col("k").as("b_key"), col("nat").as("nat_b"),
        when(col("k") % 13 === 0, lower(col("nm")))
          .otherwise(col("nm")).as("nm_b"),
        when(col("k") % 7 === 0, lit("UNKNOWN"))
          .otherwise(col("seg")).as("seg_b"),
        (col("bb") + when(col("k") % 11 === 0, lit(1L))
          .otherwise(lit(0L))).as("bb_b"))
      // Σ fA(v)·fB(v): the number of value-agreeing pairs in the full
      // A×B cross product, computed from the two frequency frames —
      // never from the pairs themselves.
      def overlap(ca: String, cb: String, out: String): DataFrame =
        a.groupBy(col(ca).as("v")).agg(count(lit(1)).as("fa"))
          .join(b.groupBy(col(cb).as("v")).agg(count(lit(1)).as("fb")), "v")
          .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as(out))
      val w = overlap("nm_a", "nm_b", "num_nm")
        .crossJoin(overlap("seg_a", "seg_b", "num_seg"))
        .crossJoin(overlap("bb_a", "bb_b", "num_bb"))
        .crossJoin(a.agg(count(lit(1)).as("na")))
        .crossJoin(b.agg(count(lit(1)).as("nb")))
        .withColumn("den", col("na") * col("nb"))
        .selectExpr(
          "CAST(floor(ln((19.0 * den) / (20.0 * num_nm)) * 1000000) AS BIGINT) AS w_nm_pos",
          "CAST(floor(ln((1.0 * den) / (20.0 * (den - num_nm))) * 1000000) AS BIGINT) AS w_nm_neg",
          "CAST(floor(ln((19.0 * den) / (20.0 * num_seg)) * 1000000) AS BIGINT) AS w_seg_pos",
          "CAST(floor(ln((1.0 * den) / (20.0 * (den - num_seg))) * 1000000) AS BIGINT) AS w_seg_neg",
          "CAST(floor(ln((19.0 * den) / (20.0 * num_bb)) * 1000000) AS BIGINT) AS w_bb_pos",
          "CAST(floor(ln((1.0 * den) / (20.0 * (den - num_bb))) * 1000000) AS BIGINT) AS w_bb_neg")
      val u = a.select(col("a_key").as("key"), col("nat"),
          col("nm_a").as("nm"), col("bb_a").as("bb"), lit(0).as("side"))
        .unionByName(b.select(col("b_key").as("key"),
          col("nat_b").as("nat"), col("nm_b").as("nm"),
          col("bb_b").as("bb"), lit(1).as("side")))
      val o1 = Window.partitionBy("nat")
        .orderBy(lower(col("nm")), col("bb"), col("key"), col("side"))
      val o2 = Window.partitionBy("nat")
        .orderBy(col("bb"), lower(col("nm")), col("key"), col("side"))
      // ranked frame feeds 4 consumers (2 passes × 2 sides): persist
      // eagerly; released at the harness boundary
      // (GraftSession.releaseQueryCaches).
      val r = materialized(u.withColumn("rn1", row_number().over(o1))
        .withColumn("rn2", row_number().over(o2)))
      def passPairs(rn: String): DataFrame = {
        val l = r.select(col("nat"), col("key").as("lk"),
          col("side").as("ls"), col(rn).as("rn_l"))
          .withColumn("d", explode(expr("sequence(1, 8)")))
          .select(col("nat"), col("lk"), col("ls"),
            (col("rn_l") + col("d")).as("rn_r"))
        val rt = r.select(col("nat"), col("key").as("rk"),
          col("side").as("rs"), col(rn).as("rn_r"))
        l.join(rt, Seq("nat", "rn_r"))
          .filter(col("ls") =!= col("rs"))
          .select(when(col("ls") === 0, col("lk")).otherwise(col("rk"))
            .as("a_key"),
            when(col("ls") === 0, col("rk")).otherwise(col("lk"))
              .as("b_key"))
      }
      val cand = passPairs("rn1").unionByName(passPairs("rn2")).distinct()
      cand.join(a, "a_key").join(b, "b_key")
        .crossJoin(broadcast(w))
        .withColumn("name_ag", (col("nm_a") === col("nm_b")).cast("long"))
        .withColumn("seg_ag", (col("seg_a") === col("seg_b")).cast("long"))
        .withColumn("bb_ag", (col("bb_a") === col("bb_b")).cast("long"))
        .withColumn("score",
          col("name_ag") * col("w_nm_pos") +
            (lit(1L) - col("name_ag")) * col("w_nm_neg") +
            col("seg_ag") * col("w_seg_pos") +
            (lit(1L) - col("seg_ag")) * col("w_seg_neg") +
            col("bb_ag") * col("w_bb_pos") +
            (lit(1L) - col("bb_ag")) * col("w_bb_neg"))
        .filter(col("score") > 0)
        .select(col("a_key"), col("b_key"), col("name_ag"), col("seg_ag"),
          col("bb_ag"), col("score"),
          (col("a_key") === col("b_key")).cast("long").as("true_match"))
    }),

    // Sketch set algebra and URL-level dedup — two corpus
    // governance shapes a 100 TB ingestion pipeline runs before any
    // content-level pass:

    // ---- q165: KMV sketch set algebra across sources -------------------
    // KMV sketch set operations (q165): per-source distinct-shingle
    // sketches (k minimum hash values each) combined pairwise into
    // union / intersection / Jaccard ESTIMATES (Bar-Yossef et al. 2002;
    // Beyer et al., SIGMOD 2007). The exact pairwise overlap audit
    // (q131) shuffles per-source-distinct posting lists — fine when
    // sources fit; the sketch version answers the same "how much of
    // dump B is already in dump A" question shipping AT MOST k longs
    // per source, so 1000 dumps cost 1000·k longs of reducer input
    // regardless of corpus size. Estimates are carried in pure integer
    // arithmetic ((m−1)·2^52 div u_m, ppm ratios) so both engines
    // agree bit-for-bit.
    // Per-source sketch = the K smallest 52-bit md5 hashes of the
    // source's distinct 3-token shingles (bounded KmvMinK aggregator:
    // map-side combined, ≤K longs of state per group). Pairwise:
    //   merged  = min-K of the two sketches' union (dedup'd)
    //   m_u     = |merged|  (< K only when both sets are tiny)
    //   u_m     = merged[m_u]           (the m_u-th order statistic)
    //   union_est   = (m_u−1)·2^52 div u_m
    //   rho     = |{x ∈ merged : x ∈ A ∧ x ∈ B}|
    //   jaccard_ppm = rho·1e6 div m_u
    //   inter_est   = rho·union_est div m_u
    // All integer ops over exact hash values — engine-portable with no
    // float division. The pair frame is |sources|² sketch rows (tiny at
    // any corpus scale), so the non-equi `<` pairing is a bounded
    // build, never a corpus-sized nested loop.
    "q165_kmv_set_ops" -> ((s, d) => {
      val sh = shingles(table(s, d, "documents"), col("source"))
      val hv = conv(substring(md5(col("shingle")), 1, 13), 16, 10)
        .cast("long")
      val kmv = udaf(new graft.functions.KmvMinK(K))
      val sk = sh.select(col("source"), hv.as("hv"))
        .groupBy("source").agg(kmv(col("hv")).as("arr"))
      val a = sk.select(col("source").as("src_a"), col("arr").as("a_arr"))
      val b = sk.select(col("source").as("src_b"), col("arr").as("b_arr"))
      a.join(b, col("src_a") < col("src_b"))
        .withColumn("merged",
          slice(array_sort(array_union(col("a_arr"), col("b_arr"))), 1, K))
        .withColumn("m_u", size(col("merged")).cast("long"))
        .withColumn("u_m", element_at(col("merged"), col("m_u").cast("int")))
        .withColumn("union_est",
          expr("(m_u - 1) * CAST(4503599627370496 AS BIGINT) div u_m"))
        .withColumn("rho",
          size(array_intersect(array_intersect(col("merged"), col("a_arr")),
            col("b_arr"))).cast("long"))
        .select(col("src_a"), col("src_b"), col("union_est"),
          expr("rho * union_est div m_u").as("inter_est"),
          expr("rho * 1000000 div m_u").as("jaccard_ppm"))
    }),

    // ---- q170: URL canonicalization + dedup ----------------------------
    // URL canonicalization + dedup (q170): the RefinedWeb/CCNet
    // URL-level dedup pass — lowercase scheme+host, strip default
    // ports, drop tracking params (utm_*, fbclid) and fragments, trim
    // trailing slashes, then keep one row per canonical URL. Pure
    // map-side regexp canonicalization feeding one groupBy — the
    // cheapest dedup gate there is, run before any text is even read.
    // (Reference context: the reference stores raw `url` and derives
    // host/curid with string ops — extract_references.py; this is the
    // corpus-scale generalization of that normalization step.)
    // Synthetic raw URLs (4 deterministic variants per item id: host
    // case, default port + utm tracking param, trailing slash +
    // fragment) canonicalized with the standard pass and deduped on
    // the canonical form. Everything up to the final groupBy is
    // codegen'd per-row string work; the groupBy on the canonical URL
    // is the only shuffle, map-side combined.
    "q170_url_dedup" -> ((s, d) => {
      val raw = table(s, d, "orders")
        .withColumn("item", expr("o_orderkey div 4"))
        .withColumn("v", expr("o_orderkey % 4"))
        .withColumn("url",
          when(col("v") === 0,
            concat(lit("https://shop.example.com/item/"), col("item")))
          .when(col("v") === 1,
            concat(lit("HTTPS://SHOP.Example.COM/item/"), col("item")))
          .when(col("v") === 2,
            concat(lit("https://shop.example.com:443/item/"), col("item"),
              lit("?utm_source=feed&utm_campaign=x")))
          .otherwise(
            concat(lit("https://shop.example.com/item/"), col("item"),
              lit("/#ref"))))
      // canonicalization: drop fragment -> drop tracking params (fix
      // dangling ?/&) -> lowercase scheme+host, strip default port ->
      // trim trailing slash on a non-root path
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val noTrack = regexp_replace(
        regexp_replace(noFrag, "(utm_[a-z]+|fbclid)=[^&#]*&?", ""),
        "[?&]$", "")
      val host = lower(regexp_extract(noTrack, "^[a-zA-Z]+://([^/:?#]+)", 1))
      val port = regexp_extract(noTrack, "^[a-zA-Z]+://[^/:?#]+:([0-9]+)", 1)
      val rest = regexp_extract(noTrack, "^[a-zA-Z]+://[^/?#]+(.*)$", 1)
      val canon = concat(lit("https://"), host,
        when(port === "" || port === "443" || port === "80", lit(""))
          .otherwise(concat(lit(":"), port)),
        regexp_replace(rest, "/(?=$|\\?)", ""))
      raw.select(canon.as("canon_url"), col("o_orderkey"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_raw"), min("o_orderkey").as("keeper"))
    }),

    // ---- q172: exact-substring dedup APPLY (Lee et al. 2022) -----------
    // "Deduplicating Training Data Makes Language Models Better": q100
    // FINDS cross-document duplicated 5-token spans; this op REMOVES
    // them — every token position covered by any span that also occurs
    // in another document is cut, and the surviving tokens are
    // reassembled in order into the cleaned text. Scale shape: one
    // shuffle on the span key to find duplicated spans (map-side
    // combined count-distinct), the covered-position set is bounded by
    // actually-duplicated spans (not the corpus), and reassembly is one
    // per-doc aggregation. Nothing is ever all-pairs; the reference
    // suffix-array formulation is a single-node algorithm — this is
    // its shuffle-native equivalent.
    "q172_exactsubstr_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), words(col("text")).as("tokens"))
      val spans = docs.filter(size(col("tokens")) >= SpanLen)
        .select(col("doc_id"),
          posexplode(ngrams(col("tokens"), SpanLen)).as(Seq("p", "span")))
      val dup = spans.groupBy("span")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
        .select("span")
      val covered = spans.join(dup, Seq("span"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (SpanLen - 1))).as("pos"))
        .distinct()
      val toks = docs.select(col("doc_id"),
        posexplode(col("tokens")).as(Seq("pos", "tok")))
      val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(collect_list(struct(col("pos"), col("tok"))).as("pt"),
          count(lit(1)).as("n_kept"))
        .select(col("doc_id"),
          expr("concat_ws(' ', transform(array_sort(pt), x -> x.tok))")
            .as("clean_text"),
          col("n_kept"))
      docs.select(col("doc_id"), size(col("tokens")).cast("long").as("n_toks"))
        .join(kept, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
    }),

    // ---- q175: fuzzy join (edit distance ≤ 1) via deletion variants ----
    // FastSS (Bocek et al. 2007): two strings with ed ≤ 1 must share a
    // member of each other's deletion neighborhood {s} ∪ {s minus one
    // char}, so the candidate stage is an EQUI-join on the variant key
    // — O(len) variants per string, bucket sizes bounded by how many
    // strings are genuinely one edit apart (never all-pairs). Exact
    // levenshtein runs only on candidates (deletion collisions at
    // different positions can be ed 2 — e.g. "ab"/"ba" share "a" — so
    // the verify step is required, same candidates-then-verify
    // discipline as q84). The id%10 subset stands in for the "suspect
    // slice" a production fuzzy-dedup pass would feed it.
    "q175_fuzzy_join" -> ((s, d) => {
      val c = table(s, d, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey").as("id"), lower(col("c_name")).as("nm"))
      val variants = c.select(col("id"), col("nm"),
        explode(deletionVariants).as("variant"))
      val a = variants.select(col("variant"), col("id").as("a_id"),
        col("nm").as("a_nm"))
      val b = variants.select(col("variant"), col("id").as("b_id"),
        col("nm").as("b_nm"))
      a.join(b, "variant").filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "a_nm", "b_nm").distinct()
        .filter(levenshtein(col("a_nm"), col("b_nm")) <= 1)
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_nm"), col("b_nm")).as("dist"))
    }),

    // ---- q387: blocking-quality audit without materializing pairs ------
    // q387 ER blocking-quality audit: pair completeness + reduction
    // ratio for two blocking schemes and their union WITHOUT
    // materializing a single candidate pair — every pair count is
    // sum-of-C(n,2) arithmetic over group sizes, with
    // inclusion–exclusion for the union — so the audit is one
    // aggregation pass at any corpus size.
    // Truth (declared match relation): same (c_nationkey,
    // cents(c_acctbal) div 1000). Scheme B1 blocks on cents div 3000
    // (boundary crossings lose true pairs); scheme B2 blocks on
    // (c_nationkey, c_mktsegment) (segment disagreement loses true
    // pairs). Every metric is exact sum-of-C(n,2) arithmetic over
    // group sizes; the UNION scheme's candidate count and coverage use
    // inclusion–exclusion over the (B1, B2) pair grouping. Zero
    // candidate pairs are ever materialized — the audit is O(corpus),
    // which is the whole point of auditing blocking BEFORE running ER.
    "q387_blocking_quality" -> ((s, d) => {
      val c = table(s, d, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
        .withColumn("truth_k", expr("cents div 1000"))
        .withColumn("b1", expr("cents div 3000"))
      val pairSum = expr("sum(n * (n - 1) div 2)")
      val n = c.agg(count(lit(1)).as("n"))
        .select(expr("n * (n - 1) div 2").as("all_pairs"))
      // candidate-pair counts per scheme (block-size arithmetic)
      val cand1 = c.groupBy("b1").agg(count(lit(1)).as("n"))
        .agg(pairSum.as("cand")).withColumn("scheme", lit("b1"))
      val cand2 = c.groupBy("nat", "seg").agg(count(lit(1)).as("n"))
        .agg(pairSum.as("cand")).withColumn("scheme", lit("b2"))
      val candBoth = c.groupBy("b1", "nat", "seg")
        .agg(count(lit(1)).as("n"))
        .agg(pairSum.as("cand_both"))
      val candU = cand1.select(col("cand").as("c1"))
        .crossJoin(broadcast(cand2.select(col("cand").as("c2"))))
        .crossJoin(broadcast(candBoth))
        .select((col("c1") + col("c2") - col("cand_both")).as("cand"))
        .withColumn("scheme", lit("union"))
      // true-pair coverage per scheme (same arithmetic on truth groups)
      val truth = c.groupBy("nat", "truth_k").agg(count(lit(1)).as("n"))
        .agg(pairSum.as("true_pairs"))
      val cov1 = c.groupBy("nat", "truth_k", "b1")
        .agg(count(lit(1)).as("n"))
        .agg(pairSum.as("covered")).withColumn("scheme", lit("b1"))
      val cov2 = c.groupBy("nat", "truth_k", "seg")
        .agg(count(lit(1)).as("n"))
        .agg(pairSum.as("covered")).withColumn("scheme", lit("b2"))
      val covBoth = c.groupBy("nat", "truth_k", "b1", "seg")
        .agg(count(lit(1)).as("n"))
        .agg(pairSum.as("cov_both"))
      val covU = cov1.select(col("covered").as("v1"))
        .crossJoin(broadcast(cov2.select(col("covered").as("v2"))))
        .crossJoin(broadcast(covBoth))
        .select((col("v1") + col("v2") - col("cov_both")).as("covered"))
        .withColumn("scheme", lit("union"))
      cand1.unionByName(cand2).unionByName(candU)
        .join(cov1.unionByName(cov2).unionByName(covU), "scheme")
        .crossJoin(broadcast(n))
        .crossJoin(broadcast(truth))
        .select(col("scheme"),
          col("cand").as("n_comparisons"),
          // ppm numerators go through DECIMAL(38,0): all_pairs ~ n²/2
          // overflows BIGINT×1e6 past ~4.3M entities (Spark would wrap
          // silently where DuckDB errors); the 128-bit intermediate is
          // exact and `div` still returns BIGINT in both engines.
          expr("""(CAST(all_pairs - cand AS DECIMAL(38,0)) * 1000000)
                  div all_pairs""").as("reduction_ppm"),
          col("true_pairs"),
          col("covered").as("true_covered"),
          expr("""(CAST(covered AS DECIMAL(38,0)) * 1000000)
                  div greatest(1, true_pairs)""")
            .as("completeness_ppm"))
        .orderBy("scheme")
    }))

  private[operators] val lshJacCtes =
    """toks AS (
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
         GROUP BY 1, 2),
       jac AS (
         SELECT p.a_id, p.b_id,
           (coalesce(iv.inter, 0) * 1000000)
             // (za.sz + zb.sz - coalesce(iv.inter, 0)) AS jac_ppm
         FROM pairs p
         JOIN sz za ON za.doc_id = p.a_id
         JOIN sz zb ON zb.doc_id = p.b_id
         LEFT JOIN iv ON iv.a_id = p.a_id AND iv.b_id = p.b_id)"""

  /** 16-bit SimHash signature SQL (q48's oracle recipe). */
  private val sim16Bits = (1 to 16).map(i =>
    s"CASE WHEN sum(CASE WHEN substr(md5(tok), $i, 1) >= '8' THEN 1" +
      " ELSE -1 END) > 0 THEN '1' ELSE '0' END").mkString(" || ")

  val oracle: Map[String, String] = Map(
    "q196_segment_dedup" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              w -> w <> '') AS t
           FROM documents),
         segs AS (
           SELECT doc_id,
                  unnest(range(CAST(ceil(len(t) / 20.0) AS BIGINT)))
                    AS seg_idx,
                  t
           FROM toks WHERE len(t) > 0),
         seg2 AS (
           SELECT doc_id, seg_idx,
                  array_to_string(t[seg_idx*20+1 : seg_idx*20+20], ' ')
                    AS seg
           FROM segs),
         ranked AS (
           SELECT doc_id, seg_idx, length(seg) AS seg_chars,
                  row_number() OVER (PARTITION BY seg
                                     ORDER BY doc_id, seg_idx) AS rn
           FROM seg2)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN rn = 1 THEN seg_chars ELSE 0 END)
                  AS BIGINT) AS kept_chars
         FROM ranked GROUP BY doc_id""",
    "q217_entity_resolution" ->
      """WITH RECURSIVE recs AS (
           SELECT s_suppkey AS id,
                  lower(s_name) || ' ' || lower(n_name) AS nm,
                  CAST(floor(s_acctbal * 100) AS BIGINT) AS cents
           FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         pairs AS (
           SELECT a.id AS a_id, b.id AS b_id
           FROM recs a JOIN recs b
             ON a.id < b.id AND levenshtein(a.nm, b.nm) <= 1),
         edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT id, id FROM recs
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         comp AS (SELECT a AS id, min(b) AS entity FROM reach GROUP BY a)
         SELECT entity, CAST(count(*) AS BIGINT) AS n_members,
                min(nm) AS canonical,
                CAST(max(cents) AS BIGINT) AS max_cents,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM comp JOIN recs USING (id) GROUP BY entity""",
    "q218_lsh_scurve" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), w -> w <> '')
                    AS t
           FROM documents WHERE doc_id % 5 = 0),
         d2 AS (
           SELECT doc_id, t, k
           FROM docs, (SELECT unnest(range(1, 10)) AS k)
           WHERE len(t) >= 20),
         pert AS (
           SELECT doc_id, k, t,
                  list_transform(range(0, len(t)),
                    i -> CASE WHEN CAST(('0x' || substr(md5(
                                CAST(doc_id AS VARCHAR) || ':' ||
                                CAST(i AS VARCHAR) || ':' ||
                                CAST(k AS VARCHAR)), 1, 4)) AS BIGINT)
                                % 10 < k
                              THEN '?' || t[i + 1] ELSE t[i + 1] END)
                    AS tv
           FROM d2),
         sets AS (
           SELECT doc_id, k,
                  list_distinct(list_transform(range(0, len(t) - 2),
                    i -> array_to_string(t[i + 1 : i + 3], ' '))) AS sa,
                  list_distinct(list_transform(range(0, len(tv) - 2),
                    i -> array_to_string(tv[i + 1 : i + 3], ' '))) AS sv
           FROM pert),
         scored AS (
           SELECT least(9, (CAST(len(list_intersect(sa, sv)) AS BIGINT)
                            * 10)
                    // (len(sa) + len(sv)
                        - len(list_intersect(sa, sv)))) AS decile,
                  CASE WHEN
                    (list_min(list_transform(sa,
                        x -> substr(md5(x), 1, 8))) =
                     list_min(list_transform(sv,
                        x -> substr(md5(x), 1, 8)))
                     AND
                     list_min(list_transform(sa,
                        x -> substr(md5(x), 9, 8))) =
                     list_min(list_transform(sv,
                        x -> substr(md5(x), 9, 8))))
                    OR
                    (list_min(list_transform(sa,
                        x -> substr(md5(x), 17, 8))) =
                     list_min(list_transform(sv,
                        x -> substr(md5(x), 17, 8)))
                     AND
                     list_min(list_transform(sa,
                        x -> substr(md5(x), 25, 8))) =
                     list_min(list_transform(sv,
                        x -> substr(md5(x), 25, 8))))
                    THEN 1 ELSE 0 END AS detected
           FROM sets)
         SELECT CAST(decile AS BIGINT) AS decile,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(detected) AS BIGINT) AS n_detected,
                CAST(sum(detected) * 1000000 // count(*) AS BIGINT)
                  AS detect_ppm
         FROM scored GROUP BY decile""",
    "q223_cdc_chunks" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len FROM documents),
         c AS (
           SELECT doc_id, text, len,
                  list_sort(list_concat([1],
                    list_filter(range(2, greatest(2, len - 2)),
                      i -> CAST(('0x' || substr(md5(substr(text, i, 4)),
                                 1, 4)) AS BIGINT) % 37 = 0))) AS cuts
           FROM d),
         ch AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(cuts) + 1),
                    j -> substr(text, cuts[j],
                           coalesce(cuts[j + 1], len + 1) - cuts[j])))
                    AS chunk
           FROM c)
         SELECT md5(chunk) AS chunk_hash,
                CAST(length(chunk) AS BIGINT) AS chunk_len,
                CAST(count(*) AS BIGINT) AS n_occ,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM ch GROUP BY chunk HAVING count(*) >= 2""",

    "q291_dedup_threshold_sweep" ->
      s"""WITH $lshJacCtes,
          grid AS (SELECT unnest(range(1, 10)) * 100000 AS thr_ppm),
          swept AS (
            SELECT g.thr_ppm, j.a_id, j.b_id
            FROM jac j JOIN grid g ON j.jac_ppm >= g.thr_ppm),
          np AS (SELECT thr_ppm, count(*) AS n_pairs
                 FROM swept GROUP BY 1),
          nf AS (
            SELECT thr_ppm, count(DISTINCT doc_id) AS n_flagged FROM (
              SELECT thr_ppm, a_id AS doc_id FROM swept
              UNION ALL
              SELECT thr_ppm, b_id FROM swept)
            GROUP BY 1),
          nd AS (SELECT count(*) AS n_docs FROM documents)
          SELECT CAST(grid.thr_ppm AS BIGINT) AS thr_ppm,
            CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
            CAST(coalesce(nf.n_flagged, 0) AS BIGINT) AS n_flagged,
            CAST(coalesce(nf.n_flagged, 0) * 1000000 // nd.n_docs
              AS BIGINT) AS flagged_ppm
          FROM grid
          LEFT JOIN np ON grid.thr_ppm = np.thr_ppm
          LEFT JOIN nf ON grid.thr_ppm = nf.thr_ppm
          CROSS JOIN nd""",
    "q295_dedup_method_agreement" ->
      s"""WITH ${lshJacCtes},
          texts AS (SELECT doc_id, md5(text) AS th FROM documents),
          exact_docs AS (
            SELECT DISTINCT doc_id FROM texts
            WHERE th IN (SELECT th FROM texts GROUP BY th
                         HAVING count(*) > 1)),
          near_docs AS (
            SELECT DISTINCT doc_id FROM (
              SELECT a_id AS doc_id FROM jac WHERE jac_ppm >= 500000
              UNION ALL
              SELECT b_id FROM jac WHERE jac_ppm >= 500000)),
          sims AS (
            SELECT doc_id, $sim16Bits AS simhash FROM (
              SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                  w -> w <> '')) AS tok
              FROM documents)
            GROUP BY doc_id),
          sim_docs AS (
            SELECT DISTINCT doc_id FROM sims
            WHERE simhash IN (SELECT simhash FROM sims GROUP BY simhash
                              HAVING count(*) > 1)),
          flags AS (
            SELECT d.doc_id,
              e.doc_id IS NOT NULL AS exact_dup,
              n.doc_id IS NOT NULL AS near_dup,
              s.doc_id IS NOT NULL AS simhash_dup
            FROM documents d
            LEFT JOIN exact_docs e ON d.doc_id = e.doc_id
            LEFT JOIN near_docs n ON d.doc_id = n.doc_id
            LEFT JOIN sim_docs s ON d.doc_id = s.doc_id)
          SELECT exact_dup, near_dup, simhash_dup,
            count(*) AS n_docs
          FROM flags GROUP BY 1, 2, 3""",
    "q313_fellegi_sunter_linkage" ->
      """WITH c AS (
           SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS nm,
             c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
             CAST(floor(c_acctbal * 100) AS BIGINT) // 100000 AS bb
           FROM customer),
         a AS (
           SELECT k AS a_key, nat, nm AS nm_a, seg AS seg_a, bb AS bb_a
           FROM c WHERE k % 19 <> 0),
         b AS (
           SELECT k AS b_key, nat AS nat_b,
             CASE WHEN k % 13 = 0 THEN lower(nm) ELSE nm END AS nm_b,
             CASE WHEN k % 7 = 0 THEN 'UNKNOWN' ELSE seg END AS seg_b,
             bb + CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END AS bb_b
           FROM c WHERE k % 17 <> 0),
         ov_nm AS (
           SELECT coalesce(sum(fa * fb), 0) AS num_nm FROM
             (SELECT nm_a AS v, count(*) AS fa FROM a GROUP BY 1) x
             JOIN (SELECT nm_b AS v, count(*) AS fb FROM b GROUP BY 1) y
             USING (v)),
         ov_seg AS (
           SELECT coalesce(sum(fa * fb), 0) AS num_seg FROM
             (SELECT seg_a AS v, count(*) AS fa FROM a GROUP BY 1) x
             JOIN (SELECT seg_b AS v, count(*) AS fb FROM b GROUP BY 1) y
             USING (v)),
         ov_bb AS (
           SELECT coalesce(sum(fa * fb), 0) AS num_bb FROM
             (SELECT bb_a AS v, count(*) AS fa FROM a GROUP BY 1) x
             JOIN (SELECT bb_b AS v, count(*) AS fb FROM b GROUP BY 1) y
             USING (v)),
         w AS (
           SELECT
             CAST(floor(ln((19.0 * den) / (20.0 * num_nm)) * 1000000) AS BIGINT) AS w_nm_pos,
             CAST(floor(ln((1.0 * den) / (20.0 * (den - num_nm))) * 1000000) AS BIGINT) AS w_nm_neg,
             CAST(floor(ln((19.0 * den) / (20.0 * num_seg)) * 1000000) AS BIGINT) AS w_seg_pos,
             CAST(floor(ln((1.0 * den) / (20.0 * (den - num_seg))) * 1000000) AS BIGINT) AS w_seg_neg,
             CAST(floor(ln((19.0 * den) / (20.0 * num_bb)) * 1000000) AS BIGINT) AS w_bb_pos,
             CAST(floor(ln((1.0 * den) / (20.0 * (den - num_bb))) * 1000000) AS BIGINT) AS w_bb_neg
           FROM ov_nm, ov_seg, ov_bb,
             (SELECT CAST((SELECT count(*) FROM a) AS BIGINT)
                * (SELECT count(*) FROM b) AS den)),
         u AS (
           SELECT a_key AS key, nat, nm_a AS nm, bb_a AS bb, 0 AS side
           FROM a
           UNION ALL
           SELECT b_key, nat_b, nm_b, bb_b, 1 FROM b),
         r AS (
           SELECT u.*,
             row_number() OVER (PARTITION BY nat
               ORDER BY lower(nm), bb, key, side) AS rn1,
             row_number() OVER (PARTITION BY nat
               ORDER BY bb, lower(nm), key, side) AS rn2
           FROM u),
         ds AS (SELECT unnest(range(1, 9)) AS d),
         cand AS (
           SELECT DISTINCT
             CASE WHEN l.side = 0 THEN l.key ELSE r2.key END AS a_key,
             CASE WHEN l.side = 0 THEN r2.key ELSE l.key END AS b_key
           FROM (
             SELECT l.nat, l.key, l.side, l.rn1 + ds.d AS rn_r, 1 AS pass
             FROM r l, ds
             UNION ALL
             SELECT l.nat, l.key, l.side, l.rn2 + ds.d, 2
             FROM r l, ds) l
           JOIN r r2 ON r2.nat = l.nat
             AND ((l.pass = 1 AND r2.rn1 = l.rn_r)
               OR (l.pass = 2 AND r2.rn2 = l.rn_r))
           WHERE l.side <> r2.side),
         scored AS (
           SELECT a_key, b_key,
             CASE WHEN nm_a = nm_b THEN 1 ELSE 0 END AS name_ag,
             CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END AS seg_ag,
             CASE WHEN bb_a = bb_b THEN 1 ELSE 0 END AS bb_ag,
             w_nm_pos, w_nm_neg, w_seg_pos, w_seg_neg, w_bb_pos, w_bb_neg
           FROM cand JOIN a USING (a_key) JOIN b USING (b_key), w)
         SELECT a_key, b_key,
           CAST(name_ag AS BIGINT) AS name_ag,
           CAST(seg_ag AS BIGINT) AS seg_ag,
           CAST(bb_ag AS BIGINT) AS bb_ag,
           CAST(name_ag * w_nm_pos + (1 - name_ag) * w_nm_neg
             + seg_ag * w_seg_pos + (1 - seg_ag) * w_seg_neg
             + bb_ag * w_bb_pos + (1 - bb_ag) * w_bb_neg AS BIGINT) AS score,
           CAST(CASE WHEN a_key = b_key THEN 1 ELSE 0 END AS BIGINT)
             AS true_match
         FROM scored
         WHERE name_ag * w_nm_pos + (1 - name_ag) * w_nm_neg
             + seg_ag * w_seg_pos + (1 - seg_ag) * w_seg_neg
             + bb_ag * w_bb_pos + (1 - bb_ag) * w_bb_neg > 0""",
    "q165_kmv_set_ops" ->
      s"""WITH toks AS (
           SELECT source,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
           FROM documents),
         sh AS (
           SELECT DISTINCT source,
             CAST(('0x' || substr(md5(shingle), 1, 13)) AS BIGINT) AS hv
           FROM (
             SELECT source, unnest(list_transform(range(0, len(tokens) - 2),
               i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' '))) AS shingle
             FROM toks WHERE len(tokens) >= 3)),
         rk AS (
           SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
           FROM sh),
         sk AS (
           SELECT source, list_sort(list(hv)) AS arr
           FROM rk WHERE rn <= $K GROUP BY source),
         pairs AS (
           SELECT a.source AS src_a, b.source AS src_b,
             a.arr AS a_arr, b.arr AS b_arr,
             list_slice(list_sort(list_distinct(a.arr || b.arr)), 1, $K) AS merged
           FROM sk a JOIN sk b ON a.source < b.source),
         est AS (
           SELECT src_a, src_b,
             len(merged) AS m_u,
             (len(merged) - 1) * 4503599627370496 // merged[len(merged)]
               AS union_est,
             len(list_filter(merged,
               x -> list_contains(a_arr, x) AND list_contains(b_arr, x)))
               AS rho
           FROM pairs)
         SELECT src_a, src_b, union_est,
           rho * union_est // m_u AS inter_est,
           rho * 1000000 // m_u AS jaccard_ppm
         FROM est""",
    "q170_url_dedup" ->
      """WITH raw AS (
           SELECT o_orderkey, o_orderkey // 4 AS item, o_orderkey % 4 AS v
           FROM orders),
         urls AS (
           SELECT o_orderkey,
             CASE v
               WHEN 0 THEN 'https://shop.example.com/item/' || item
               WHEN 1 THEN 'HTTPS://SHOP.Example.COM/item/' || item
               WHEN 2 THEN 'https://shop.example.com:443/item/' || item
                 || '?utm_source=feed&utm_campaign=x'
               ELSE 'https://shop.example.com/item/' || item || '/#ref'
             END AS url
           FROM raw),
         canon AS (
           SELECT o_orderkey,
             'https://' || lower(regexp_extract(clean,
                 '^[a-zA-Z]+://([^/:?#]+)', 1))
               || CASE WHEN port = '' OR port = '443' OR port = '80'
                       THEN '' ELSE ':' || port END
               || regexp_replace(regexp_extract(clean,
                    '^[a-zA-Z]+://[^/?#]+(.*)$', 1), '/(\?|$)', '\1')
               AS canon_url
           FROM (
             SELECT o_orderkey, clean,
               regexp_extract(clean, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1)
                 AS port
             FROM (
               SELECT o_orderkey,
                 regexp_replace(
                   regexp_replace(regexp_replace(url, '#.*$', ''),
                     '(utm_[a-z]+|fbclid)=[^&#]*&?', '', 'g'),
                   '[?&]$', '') AS clean
               FROM urls)))
         SELECT canon_url, count(*) AS n_raw, min(o_orderkey) AS keeper
         FROM canon GROUP BY canon_url""",
    "q172_exactsubstr_dedup" ->
      """WITH docs AS (
           SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS tokens
           FROM documents),
         spans AS (
           SELECT doc_id, p,
             array_to_string(list_slice(tokens, p + 1, p + 5), ' ') AS span
           FROM (SELECT doc_id, tokens,
                   unnest(range(0, len(tokens) - 4)) AS p
                 FROM docs WHERE len(tokens) >= 5)),
         dup AS (
           SELECT span FROM spans
           GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
         cov AS (
           SELECT DISTINCT doc_id, pos FROM (
             SELECT doc_id, unnest(range(p, p + 5)) AS pos
             FROM spans WHERE span IN (SELECT span FROM dup))),
         tok AS (
           SELECT doc_id, pos, tokens[pos + 1] AS tok FROM (
             SELECT doc_id, tokens, unnest(range(0, len(tokens))) AS pos
             FROM docs)),
         kept AS (
           SELECT t.doc_id, t.pos, t.tok
           FROM tok t
           WHERE NOT EXISTS (SELECT 1 FROM cov c
                             WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         agg AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_kept, 0) AS n_kept,
           len(d.tokens) - coalesce(a.n_kept, 0) AS n_removed
         FROM docs d LEFT JOIN agg a USING (doc_id)""",
    "q175_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey AS id, lower(c_name) AS nm
                    FROM customer WHERE c_custkey % 10 = 0)
         SELECT a.id AS a_id, b.id AS b_id,
           levenshtein(a.nm, b.nm) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.nm, b.nm) <= 1""",

    "q387_blocking_quality" ->
      """WITH c AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         k AS (
           SELECT nat, seg, cents // 1000 AS truth_k, cents // 3000 AS b1
           FROM c),
         allp AS (
           SELECT count(*) * (count(*) - 1) // 2 AS all_pairs FROM k),
         cand1 AS (
           SELECT sum(n * (n - 1) // 2) AS cand
           FROM (SELECT count(*) AS n FROM k GROUP BY b1)),
         cand2 AS (
           SELECT sum(n * (n - 1) // 2) AS cand
           FROM (SELECT count(*) AS n FROM k GROUP BY nat, seg)),
         candb AS (
           SELECT sum(n * (n - 1) // 2) AS cand
           FROM (SELECT count(*) AS n FROM k GROUP BY b1, nat, seg)),
         truth AS (
           SELECT sum(n * (n - 1) // 2) AS true_pairs
           FROM (SELECT count(*) AS n FROM k GROUP BY nat, truth_k)),
         cov1 AS (
           SELECT sum(n * (n - 1) // 2) AS covered
           FROM (SELECT count(*) AS n FROM k GROUP BY nat, truth_k, b1)),
         cov2 AS (
           SELECT sum(n * (n - 1) // 2) AS covered
           FROM (SELECT count(*) AS n FROM k
                 GROUP BY nat, truth_k, seg)),
         covb AS (
           SELECT sum(n * (n - 1) // 2) AS covered
           FROM (SELECT count(*) AS n FROM k
                 GROUP BY nat, truth_k, b1, seg)),
         schemes AS (
           SELECT 'b1' AS scheme, (SELECT cand FROM cand1) AS cand,
             (SELECT covered FROM cov1) AS covered
           UNION ALL
           SELECT 'b2', (SELECT cand FROM cand2),
             (SELECT covered FROM cov2)
           UNION ALL
           SELECT 'union',
             (SELECT cand FROM cand1) + (SELECT cand FROM cand2)
               - (SELECT cand FROM candb),
             (SELECT covered FROM cov1) + (SELECT covered FROM cov2)
               - (SELECT covered FROM covb))
         SELECT scheme, CAST(cand AS BIGINT) AS n_comparisons,
           CAST(CAST(all_pairs - cand AS HUGEINT) * 1000000
             // all_pairs AS BIGINT) AS reduction_ppm,
           CAST(true_pairs AS BIGINT) AS true_pairs,
           CAST(covered AS BIGINT) AS true_covered,
           CAST(CAST(covered AS HUGEINT) * 1000000
             // greatest(1, true_pairs) AS BIGINT)
             AS completeness_ppm
         FROM schemes CROSS JOIN allp CROSS JOIN truth
         ORDER BY scheme""")
}
