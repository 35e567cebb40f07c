package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-5 wave 17: fleet-operations primitives for a corpus platform.
  *
  *   - q207 shard-rebalance audit: how much data MOVES when the shard
  *     count grows 16 → 20, mod-hash vs rendezvous (highest-random-
  *     weight) assignment — the consistent-hashing property quantified
  *     (mod reshuffles ~1 − 1/lcm ≈ 95% of keys; rendezvous moves only
  *     ~new/total = 20%, the minimum possible).
  *   - q208 dataset card: the per-source release datasheet (doc/token/
  *     char totals, language spread, quality share) in ONE conditional-
  *     aggregation scan — the corpus-level analogue of q193's DQ gate.
  *   - q209 per-group embedding centroids + pairwise centroid products:
  *     element-wise vector aggregation as a relational shape (explode →
  *     (group, dim) partial sums → dim-keyed pair join), all integer
  *     milli-units so cross-engine hashes are exact.
  */
object Wave17Ops {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- q207: shard-rebalance audit (mod vs rendezvous) ---------------
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
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
        16, 10).cast("long")
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

    // ---- q208: dataset card (per-source release datasheet) -------------
    // One scan, conditional aggregation — adding a datasheet line adds a
    // counter, never a pass (same posture as q193). Quality share =
    // docs whose integer avg token length lands in [3000, 10000] milli-
    // chars; language spread as a distinct count. Everything integer.
    "q208_dataset_card" -> ((s, d) => {
      val toks = size(filter(split(lower(col("text")), " "),
        w => length(w) > 0))
      table(s, d, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          toks.cast("long").as("n_toks"))
        .withColumn("avg_tok_milli", expr("(n_chars * 1000) div n_toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          sum(when(col("avg_tok_milli").between(3000, 10000), 1L)
            .otherwise(0L)).as("n_quality"))
        .withColumn("quality_ppm", expr("n_quality * 1000000 div n_docs"))
    }),

    // ---- q209: per-group centroids + pairwise centroid products --------
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
    }))

  val oracle: Map[String, String] = Map(
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
    "q208_dataset_card" ->
      """WITH sc AS (
           SELECT source, lang, n_chars,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS BIGINT) AS n_toks
           FROM documents),
         sc2 AS (
           SELECT source, lang, n_chars, n_toks,
                  (n_chars * 1000) // n_toks AS avg_tok_milli
           FROM sc)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(CASE WHEN avg_tok_milli BETWEEN 3000 AND 10000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN avg_tok_milli BETWEEN 3000 AND 10000
                              THEN 1 ELSE 0 END) * 1000000 // count(*)
                  AS BIGINT) AS quality_ppm
         FROM sc2 GROUP BY source""",
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
         JOIN norms nb ON nb.label = d.label_b""")
}
