package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's near-duplicate text kernel. Each decision the dedup,
  * curation and text-analytics queries share is defined here once:
  *
  *  - how a document becomes words ([[words]]), sliding word
  *    n-grams ([[ngrams]], [[shingles]]) and adjacent word pairs
  *    ([[adjacentPairs]]);
  *  - how 3-word shingles fold into a 4-slot MinHash signature
  *    ([[minhash]], [[signatures]]);
  *  - how signature slots become LSH band keys ([[bands]]);
  *  - how a bucket of ids expands into candidate pairs
  *    ([[bucketPairs]]).
  *
  * The DuckDB oracle statements spell the same decisions out on their
  * own; they are the reference these definitions are checked against.
  */
object TextKernel {

  /** Tokenize into a lowercase word array without empty words. */
  def words(c: Column): Column =
    filter(split(lower(c), " "), w => w =!= "")

  /** Sliding word n-grams: element i (0-based) is tokens i+1 .. i+n
    * joined by one space. Needs `size(tokens) >= n`, which callers
    * filter first: a shorter array makes `slice` fail. */
  def ngrams(tokens: Column, n: Int): Column =
    transform(sequence(lit(0), size(tokens) - n),
      i => concat_ws(" ", slice(tokens, i + 1, lit(n))))

  /** Adjacent word pairs in order: element i (0-based) is the struct
    * (a = tokens i+1, b = tokens i+2). Needs `size(tokens) >= 2`, which
    * callers filter first. */
  def adjacentPairs(tokens: Column): Column =
    transform(sequence(lit(0), size(tokens) - 2),
      i => struct(element_at(tokens, i + 1).as("a"),
        element_at(tokens, i + 2).as("b")))

  /** Non-overlapping `len`-word segments in order, the last one
    * possibly shorter. Needs a non-empty array. */
  def segments(tokens: Column, len: Int): Column =
    transform(
      sequence(lit(0), ceil(size(tokens) / lit(len.toDouble)).cast("int") - 1),
      i => array_join(slice(tokens, i * len + 1, lit(len)), " "))

  /** One (`key`, `shingle`) row per 3-word shingle of each row of
    * `docs` (which has a `text` column); rows under 3 words give none. */
  def shingles(docs: DataFrame, key: Column): DataFrame =
    docs.withColumn("tokens", words(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(key, explode(ngrams(col("tokens"), 3)).as("shingle"))

  /** 4-slot MinHash signature of a token array, as ARRAY<STRING>
    * [sig0, sig1, sig2, sig3]: slot k is the least of the 8-hex-digit
    * slices at 8k+1 of md5 over every 3-word shingle
    * (`graft.functions.MinHashSigs`). Null under 3 tokens. */
  def minhash(tokens: Column): Column =
    call_function("minhash_sigs", tokens)

  /** (doc_id, sig0 .. sig3) for every document of `docs` with at least
    * 3 words; map-only. */
  def signatures(docs: DataFrame): DataFrame =
    docs.withColumn("tokens", words(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), minhash(col("tokens")).as("sigs"))
      .select(col("doc_id") +: (0 to 3).map(k =>
        element_at(col("sigs"), k + 1).as(s"sig$k")): _*)

  /** The two LSH band keys of a signature whose slot k is `slot(k)`:
    * band b is md5 over slots 2b and 2b+1 (two bands of two rows). */
  def bands(slot: Int => Column): Seq[Column] =
    Seq(0, 1).map(b => md5(concat(slot(2 * b), slot(2 * b + 1))))

  /** Every pair (a_id < b_id) of `id`s that share a bucket of `keys`:
    * one row per pair and shared bucket, so callers deduplicate or
    * count. Buckets over `maxBucket` ids are dropped: a bucket of B ids
    * emits B²/2 pairs. */
  def bucketPairs(
      df: DataFrame, keys: Seq[Column], id: Column,
      maxBucket: Int): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(id)).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1), y ->
               struct(x AS a_id, y AS b_id))))""")).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
}
