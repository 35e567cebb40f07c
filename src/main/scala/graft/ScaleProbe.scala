package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-up probe: runs headline operators at 1× and N× sf0.1 (tables
  * replicated in-plan with shifted keys so join/group cardinalities
  * scale with the data) and prints per-operator timing ratios. A
  * near-N× ratio on an N× input means the operator is linear — the
  * property that lets the same plan survive a 100 TB cluster run;
  * superlinear ratios flag accidental quadratic work or broken
  * partitioning.
  *
  * Usage: runMain graft.ScaleProbe [factor] [sfDir]
  */
object ScaleProbe {

  private val Offset = 10000000L

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def base(name: String): DataFrame = Tables.table(spark, sfDir, name)

    /** k copies with the named key columns shifted per copy. */
    def scaled(name: String, k: Int, keys: String*): DataFrame =
      (0 until k).map { i =>
        keys.foldLeft(base(name))((df, c) =>
          df.withColumn(c, col(c) + lit(i * Offset)))
      }.reduce(_ unionByName _)

    val dec = org.apache.spark.sql.types.DecimalType(18, 2)

    val probes: Map[String, Int => DataFrame] = Map(
      "scan_agg" -> (k =>
        scaled("lineitem", k, "l_orderkey")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast(dec)).as("q"),
            count(lit(1)).as("n"))),
      "bigbig_join_agg" -> (k =>
        scaled("lineitem", k, "l_orderkey")
          .join(scaled("orders", k, "o_orderkey"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))),
      "window_dedup" -> (k => {
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        scaled("lineitem", k, "l_orderkey")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
      }),
      "minhash" -> (k => {
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(tokens) - 3),
               i -> concat_ws(' ', slice(tokens, i + 1, 3)))"""))
            .as("shingle"))
          .groupBy("doc_id")
          .agg(min(substring(md5(col("shingle")), 1, 8)).as("sig0"))
      }),
      "sessionize" -> (k => {
        val byUser = Window.partitionBy("user_id").orderBy("event_id")
        val gapNs = 1800L * 1000 * 1000 * 1000
        scaled("events", k, "user_id", "event_id")
          .withColumn("prev_ts", lag("ts", 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
          .groupBy("user_id")
          .agg(sum("new_session").as("n_sessions"))
      }),
      // q204's shape: endpoint-sweep interval overlap (IntervalSweep).
      // Copies are disjoint user populations in DISJOINT time epochs
      // (ts shifted ~3.2 years per copy), so pairs never cross copies
      // and the qualifying-pair output scales exactly k — a linear
      // probe for the sweep's own machinery (explode, carries, range
      // partitioning with auto fan-out, emission shuffle, pair fold).
      "interval_sweep" -> (k => {
        val ev = (0 until k).map { i =>
          base("events").select(
            (col("user_id") + lit(i * Offset)).as("user_id"),
            (col("ts") + lit(i * 100000000000000000L)).as("ts"),
            (col("event_id") + lit(i * Offset)).as("event_id"))
        }.reduce(_ unionByName _)
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val prevEnd = max("iv_end")
          .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
        val iv = ev
          .withColumn("iv_end", col("ts") + lit(1800000000000L))
          .withColumn("ni",
            when(prevEnd.isNull || col("ts") > prevEnd, 1L).otherwise(0L))
          .withColumn("island", sum("ni")
            .over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(min("ts").as("s"), max("iv_end").as("e"))
        // Offset % 20 == 0 keeps per-copy probe-user density identical
        graft.operators.IntervalSweep.overlapPairs(iv, probeMod = 20L)
      }),
      // q143's shape: sliding exact-distinct via map-side day fan-out.
      // Work is 7 × |distinct (user, day)|, so the ratio must track k.
      "rolling_dau_fanout" -> (k => {
        val ud = scaled("events", k, "user_id")
          .select(expr("ts div 86400000000000").as("day"), col("user_id"))
          .distinct()
        ud.select(explode(expr("sequence(day, day + 6)")).as("day"),
            col("user_id"))
          .distinct()
          .groupBy("day").agg(count(lit(1)).as("wau"))
      }),
      // q141's shape: ROWS-bounded frame features on the user timeline.
      "lag_features_window" -> (k => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        scaled("events", k, "user_id", "event_id")
          .withColumn("cents", expr("cast(floor(value * 100) as bigint)"))
          .select(col("user_id"),
            lag(col("cents"), 1).over(w).as("prev"),
            sum(col("cents")).over(w.rowsBetween(-4, 0)).as("roll"))
          .groupBy("user_id").agg(sum("roll").as("chk"))
      }),
      "cc_hashmin" -> (k => {
        // k disjoint copies of the LSH candidate-pair graph (ids
        // shifted per copy): components scale linearly, structure —
        // and so the hash-min round count — stays constant.
        val pairs = graft.operators.TextOps.lshPairs(spark, sfDir)
        val edges = (0 until k).map(i => pairs.select(
          (col("a_id") + lit(i * Offset)).as("a_id"),
          (col("b_id") + lit(i * Offset)).as("b_id")))
          .reduce(_ unionByName _)
        graft.operators.GraphOps.connectedComponentsFixed(edges, 6)
      }),
      "kmeans_assign" -> (k => {
        // assignment stage of the learned IVF: corpus scales k×, the
        // centroid set stays constant (broadcast) — must be linear.
        val cents = base("embeddings")
          .select(col("label").as("cid"),
            posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
              .as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(round(avg("x"), 6).as("c"))
          .groupBy("cid")
          .agg(expr(
            "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
            .as("cvec"))
        val e = scaled("embeddings", k, "vec_id")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val score = expr(
          """aggregate(zip_with(cvec, cvec, (x, y) -> x * y),
               CAST(0 AS DOUBLE), (a, t) -> a + t)
             - 2 * aggregate(zip_with(v, cvec, (x, y) -> x * y),
               CAST(0 AS DOUBLE), (a, t) -> a + t)""")
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            struct(score.as("score"), col("cid").as("cid")).as("sc"))
          .groupBy("vec_id").agg(min("sc").as("m"))
      }),
      "chunking" -> (k => {
        // q94 shape: pure map-side explode — the ratio should track
        // raw data volume with zero shuffle amplification.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) > 0)
          .select(col("doc_id"),
            posexplode(expr(
              """transform(sequence(0, int((size(tokens) - 1) / 48)),
                 i -> slice(tokens, i * 48 + 1, 64))"""))
              .as(Seq("chunk_idx", "chunk")))
          .select(md5(concat_ws(" ", col("chunk"))).as("h"))
      }),
      "bloom_screen" -> (k => {
        // q97 shape: the benchmark side scales with the corpus but the
        // broadcast bit set is capped at m=8192 positions, so the train
        // screen must stay linear map-side work.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val sh = scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(tokens) - 3),
               i -> concat_ws(' ', slice(tokens, i + 1, 3)))"""))
            .as("shingle"))
        def pos(j: Int) =
          conv(substring(md5(col("shingle")), j * 8 + 1, 8), 16, 10)
            .cast("long") % 8192
        val bits = sh.filter(col("doc_id") % 97 === 0)
          .select(explode(array(pos(0), pos(1), pos(2))).as("p"))
          .agg(sort_array(collect_set(col("p"))).as("bits"))
        sh.filter(col("doc_id") % 97 =!= 0)
          .crossJoin(broadcast(bits))
          .withColumn("hit",
            (array_contains(col("bits"), pos(0)) &&
              array_contains(col("bits"), pos(1)) &&
              array_contains(col("bits"), pos(2))).cast("long"))
          .groupBy("doc_id")
          .agg(sum("hit").as("n_hit"))
          .filter(col("n_hit") > 0)
      }),
      "dup_spans" -> (k => {
        // q100 shape: span explode + count. Output is bounded by real
        // duplication — shifted copies duplicate every span k×, so rows
        // grow with the duplicated set, but the work per span is one
        // map-side-combined count either way.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 5)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(tokens) - 5),
               i -> concat_ws(' ', slice(tokens, i + 1, 5)))""")).as("span"))
          .groupBy("span")
          .agg(countDistinct("doc_id").as("n_docs"))
          .filter(col("n_docs") >= 2)
      }),
      "simhash_sigs" -> (k => {
        // q101 signature build: 64 bit-sums in one aggregation — must
        // stay linear in the token stream.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val t = scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .select(col("doc_id"), explode(col("tokens")).as("tok"))
          .withColumn("h", md5(col("tok")))
        val sums = for (j <- 0 to 3; i <- 1 to 16) yield
          sum(when((shiftright(conv(substring(col("h"), i, 1), 16, 10)
            .cast("int"), j) % 2) === 1, 1).otherwise(-1)).as(s"s${j}_$i")
        t.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      }),
      "grouped_cumsum" -> (k =>
        graft.operators.TextOps.groupedOrderedCumsum(
          scaled("documents", k, "doc_id")
            .select(col("doc_id"), col("source"),
              col("n_chars").cast("long").as("v"))
            .withColumn("ord", md5(col("doc_id").cast("string"))),
          Seq("source"), Seq("ord", "doc_id"), "v", "cum")),
      "asof_native" -> (k => {
        // q114 shape through the custom AsOfJoinExec: user_id shifted
        // per copy, so key cardinality scales with the data and the
        // per-partition merge state stays O(1) — the ratio must track
        // the two hash exchanges + sorts, nothing quadratic.
        val ev = scaled("events", k, "user_id", "event_id")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("c_ts"))
        graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "c_ts", tieBreak = Seq("click_id"))
      }),
      "ngram_novelty" -> (k => {
        // q110 shape: inverted shingle index + join-back. Replication
        // multiplies every shingle's doc frequency by k, but the work
        // per (doc, shingle) row is one key-partitioned count + one
        // equi join either way — the ratio must track the row count,
        // never the pair space.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val sh = scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(tokens) - 3),
               i -> concat_ws(' ', slice(tokens, i + 1, 3)))"""))
            .as("shingle"))
          .distinct()
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        sh.join(freq, "shingle")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("u"))
      }),
      "random_projection" -> (k => {
        // q112 shape: zero-shuffle map over the vector stream with a
        // constant literal matrix — the purest linear probe.
        graft.functions.GraftFunctions.register(spark)
        def md5Hex(x: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val projCols = (0 until 8).map { j =>
          val signs = array((0 until 64).map { i =>
            lit(if (md5Hex(s"$i:$j").charAt(0) < '8') 1.0f else -1.0f)
          }: _*)
          round(call_function("array_dot", col("embedding"), signs), 6)
            .as(s"p$j")
        }
        scaled("embeddings", k, "vec_id")
          .select(col("vec_id") +: projCols: _*)
      }),
      "range_join_binned" -> (k => {
        // q125 shape: interval set fixed, point density per bin grows
        // k× — pair work (and the ratio) should stay linear in k. A
        // naive BETWEEN join would go superlinear immediately.
        val dayMs = 86400000L
        val bin = 30L * dayMs
        val win = base("nation")
          .select(col("n_nationkey").cast("long").as("w_id"))
          .withColumn("start_ms",
            lit(788918400000L) + col("w_id") * (90L * dayMs))
          .withColumn("end_ms",
            col("start_ms") + (col("w_id") % 7 + 1) * (20L * dayMs))
          .select(col("w_id"), col("start_ms"), col("end_ms"),
            explode(sequence(expr(s"start_ms div ${bin}L"),
              expr(s"end_ms div ${bin}L"))).as("bin"))
        scaled("orders", k, "o_orderkey")
          .select(unix_millis(col("o_orderdate").cast("timestamp"))
            .as("o_ms"), col("o_totalprice"))
          .withColumn("bin", expr(s"o_ms div ${bin}L"))
          .join(win, "bin")
          .filter(col("o_ms").between(col("start_ms"), col("end_ms")))
          .groupBy("w_id").agg(count(lit(1)).as("n_orders"))
      }),
      "pagerank_iter" -> (k => {
        // q119 shape, one iteration: key-shifted copies replicate the
        // graph as disjoint components (k× nodes, k× edges) — the
        // join + dst-shuffle should scale linearly.
        val eo = scaled("lineitem", k, "l_orderkey", "l_suppkey")
          .join(scaled("orders", k, "o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .distinct()
        val edges = eo.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        edges.join(deg, "src")
          .select(col("dst"),
            expr("(1000000L) div deg").as("share"))
          .groupBy("dst").agg(sum("share").as("m"))
      }),
      "skyline_prefix_max" -> (k => {
        // q126 shape: group-reduce + two-phase strict prefix max. The
        // x-group count is bounded by distinct doc lengths, so k× docs
        // grow the reduce side only — near-flat ratios expected.
        val pts = scaled("documents", k, "doc_id")
          .select(length(col("text")).cast("long").as("x"),
            size(array_distinct(filter(split(lower(col("text")), " "),
              w => w =!= ""))).cast("long").as("y"))
        val grp = pts.groupBy("x").agg(max("y").as("gy"))
        graft.operators.AnalyticsOps
          .strictPrefixMaxDesc(grp, "x", "gy", "sy")
          .filter(col("sy").isNull || col("gy") > col("sy"))
      }),
      "kmv_sketch" -> (k => {
        // q165 shape with sources fixed and per-source volume scaled:
        // the claim under probe is that reducer state stays ≤ K longs
        // per source while the map-side cost grows linearly.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val kmv = udaf(new graft.functions.KmvMinK(64))
        scaled("documents", k, "doc_id")
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 3)
          .select(col("source"), explode(expr(
            """transform(sequence(0, size(tokens) - 3),
               i -> concat_ws(' ', slice(tokens, i + 1, 3)))"""))
            .as("shingle"))
          .select(col("source"),
            conv(substring(md5(col("shingle")), 1, 13), 16, 10)
              .cast("long").as("hv"))
          .groupBy("source").agg(kmv(col("hv")).as("arr"))
          .select(col("source"), size(col("arr")).as("m"))
      }),
      "hard_negative_topk" -> (k => {
        // q166 shape: anchor set FIXED (eval-suite-sized), corpus
        // scaled — wall time should track the map-side scoring pass.
        graft.functions.GraftFunctions.register(spark)
        val e = scaled("embeddings", k, "vec_id")
        val anchors = base("embeddings").filter(col("vec_id") < 5)
          .select(col("vec_id").as("a_id"), col("label").as("a_label"),
            col("embedding").as("a_vec"))
        val w = Window.partitionBy("a_id")
          .orderBy(col("cosine").desc, col("neg_id").asc)
        e.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(anchors))
          .filter(col("label") =!= col("a_label"))
          .select(col("a_id"), col("vec_id").as("neg_id"),
            round(expr("array_dot(embedding, a_vec)") /
              (sqrt(expr("array_dot(embedding, embedding)")) *
                sqrt(expr("array_dot(a_vec, a_vec)"))), 6).as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
      }),
      "url_canonicalize" -> (k =>
        // q170 shape: map-side regexp chain + one combined groupBy.
        scaled("orders", k, "o_orderkey")
          .withColumn("url",
            concat(lit("HTTPS://SHOP.Example.COM:443/item/"),
              expr("o_orderkey div 4"), lit("?utm_source=feed#ref")))
          .select(concat(lit("https://"),
            lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/:?#]+)", 1)),
            regexp_replace(regexp_replace(regexp_extract(col("url"),
              "^[a-zA-Z]+://[^/?#]+(.*)$", 1),
              "[?&](utm_[a-z]+|fbclid)=[^&#]*", ""), "#.*$", ""))
            .as("canon_url"), col("o_orderkey"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_raw"), min("o_orderkey").as("keeper"))),
      "exactsubstr_apply" -> (k => {
        // q172 shape: duplicated-span discovery + covered-position cut +
        // per-doc reassembly, with doc_ids shifted so span dup groups
        // stay cross-copy (duplication rate constant as the corpus grows).
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val docs = scaled("documents", k, "doc_id")
          .select(col("doc_id"), toks.as("tokens"))
        val spans = docs.filter(size(col("tokens")) >= 5)
          .select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, size(tokens) - 5),
               i -> concat_ws(' ', slice(tokens, i + 1, 5)))"""))
            .as(Seq("p", "span")))
        val dup = spans.groupBy("span")
          .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
          .select("span")
        val covered = spans.join(dup, Seq("span"), "left_semi")
          .select(col("doc_id"),
            explode(sequence(col("p"), col("p") + 4)).as("pos"))
          .distinct()
        docs.select(col("doc_id"), posexplode(col("tokens"))
            .as(Seq("pos", "tok")))
          .join(covered, Seq("doc_id", "pos"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
      }),
      "inverted_index" -> (k =>
        // q179 shape: one term-key shuffle, 8-byte XOR state per term.
        scaled("documents", k, "doc_id")
          .select(col("doc_id"), posexplode(
            filter(split(lower(col("text")), " "), w => w =!= ""))
            .as(Seq("pos", "tok")))
          .withColumn("hv", conv(substring(md5(concat_ws(":",
            col("doc_id"), col("pos"), col("tok"))), 1, 13), 16, 10)
            .cast("long"))
          .groupBy("tok")
          .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"),
            expr("bit_xor(hv)").as("px"))),
      "fuzzy_fastss" -> (k => {
        // q175 shape: deletion-variant equi-join + levenshtein verify.
        // The name is REBUILT from the shifted key (scaled() only shifts
        // key columns): real corpus growth brings new distinct strings,
        // and identical-name copies would densify every variant bucket
        // quadratically — the classic hot-bucket trap the real operator
        // avoids because genuine data has few exact-collision names.
        val c = scaled("customer", k, "c_custkey")
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").as("id"),
            format_string("customer#%09d", col("c_custkey")).as("nm"))
        val variants = c.select(col("id"), col("nm"), explode(expr(
          """array_union(array(nm), transform(sequence(1, length(nm)),
             i -> concat(substring(nm, 1, i - 1),
                         substring(nm, i + 1, length(nm) - i))))"""
          )).as("variant"))
        val a = variants.select(col("variant"), col("id").as("a_id"),
          col("nm").as("a_nm"))
        val b = variants.select(col("variant"), col("id").as("b_id"),
          col("nm").as("b_nm"))
        a.join(b, "variant").filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id", "a_nm", "b_nm").distinct()
          .filter(levenshtein(col("a_nm"), col("b_nm")) <= 1)
          .groupBy().agg(count(lit(1)).as("n_pairs"))
      }),
      "label_blocked_cosine" -> (k => {
        graft.functions.GraftFunctions.register(spark)
        // labels shifted too: block sizes stay constant, total linear.
        val e = scaled("embeddings", k, "vec_id", "label")
          .select(col("label"), col("vec_id"), col("embedding"),
            sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
        val a = e.select(col("label"), col("vec_id").as("a_id"),
          col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
        val b = e.select(col("label"), col("vec_id").as("b_id"),
          col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
        a.join(b, "label").filter(col("a_id") < col("b_id"))
          .select(round(expr("array_dot(a_vec, b_vec)")
            / (col("a_nrm") * col("b_nrm")), 6).as("cosine"))
          .filter(col("cosine") > 0.5)
      }),
      "boilerplate_markers" -> (k => {
        // q148 shape: per-(source, shingle) distinct-doc counts + the
        // broadcast marker join back. Sources shift with the copies,
        // so per-source doc counts stay constant — both shuffles and
        // the marker set scale linearly with the corpus.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val occ = scaled("documents", k, "doc_id")
          .withColumn("source",
            concat(col("source"), (col("doc_id") / Offset).cast("long")))
          .withColumn("tokens", toks)
          .filter(size(col("tokens")) >= 2)
          .select(col("doc_id"), col("source"), explode(expr(
            """transform(sequence(0, size(tokens) - 2),
               i -> concat_ws(' ', slice(tokens, i + 1, 2)))""")).as("sg"))
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
      }),
      "semdedup_cell_pairs" -> (k => {
        // q147's pair stage with cells scaling the production way:
        // labels shift with the copies (k ∝ n), so cell size is
        // constant and pair work is linear. A superlinear ratio here
        // is exactly the fixed-k mistake the operator's comment warns
        // about.
        graft.functions.GraftFunctions.register(spark)
        val e = scaled("embeddings", k, "vec_id", "label")
          .select(col("label").as("cid"), col("vec_id"), col("embedding"),
            sqrt(expr("array_dot(embedding, embedding)")).as("nrm"))
        val a = e.select(col("cid"), col("vec_id").as("a_id"),
          col("embedding").as("av"), col("nrm").as("a_nrm"))
        val b = e.select(col("cid"), col("vec_id").as("b_id"),
          col("embedding").as("bv"), col("nrm").as("b_nrm"))
        a.join(b, "cid").filter(col("a_id") > col("b_id"))
          .select(col("cid"), col("a_id"),
            round(expr("array_dot(av, bv)")
              / (col("a_nrm") * col("b_nrm")), 6).as("cos_r"))
          .filter(col("cos_r") >= 0.3)
          .groupBy("cid", "a_id").agg(count(lit(1)).as("n"))
      }),
      "scd2_fullouter" -> (k => {
        // q152 shape: one full-outer join on the natural key + the
        // two union branches over the persisted frame.
        val docs = scaled("documents", k, "doc_id")
        val old = docs.filter(pmod(col("doc_id"), lit(10)) < 9)
          .select(col("doc_id"), md5(col("text")).as("oh"))
        val neu = docs.filter(pmod(col("doc_id"), lit(11)) =!= 5)
          .select(col("doc_id"), md5(concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit(" rev2"))
              .otherwise(lit("")))).as("nh"))
        val j = old.join(neu, Seq("doc_id"), "full_outer")
          .withColumn("changed",
            col("oh").isNotNull && col("nh").isNotNull &&
              col("oh") =!= col("nh"))
        j.filter(col("oh").isNotNull).select(col("doc_id"))
          .unionAll(j.filter(col("nh").isNotNull &&
            (col("oh").isNull || col("changed"))).select(col("doc_id")))
      }),
      "dsir_scoring" -> (k => {
        // q150 shape: vocab count + broadcast-scored per-doc reduce.
        // The vocab is content-bounded (does not grow with copies), so
        // the broadcast is constant and the two shuffles linear.
        val toks = scaled("documents", k, "doc_id")
          .select(col("doc_id"), col("source"),
            explode(filter(split(lower(col("text")), " "), w => w =!= ""))
              .as("tok"))
        val va = toks.groupBy("tok").agg(count(lit(1)).as("cnt_r"))
        val vt = toks.filter(col("source").isin("src0", "src1"))
          .groupBy("tok").agg(count(lit(1)).as("cnt_t"))
        val vocab = va.join(vt, Seq("tok"), "left_outer")
          .withColumn("cnt_t", coalesce(col("cnt_t"), lit(0L)))
        toks.join(broadcast(vocab), "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(col("cnt_t") - col("cnt_r")).as("w"))
      }),
      "salted_join" -> (k => {
        // q156 shape: probe side scaled, build side constant (the
        // production case — facts grow, dims don't). The salted
        // exchange fans each hot key over 8 reducers; join output and
        // both shuffles scale linearly with the probe side.
        val S = 8
        val left = scaled("lineitem", k, "l_orderkey")
          .filter(col("l_returnflag") === "R")
          .select(pmod(col("l_partkey"), lit(50)).as("bk"),
            col("l_quantity"),
            pmod(col("l_orderkey"), lit(S)).as("salt"))
        val build = base("supplier")
          .select(pmod(col("s_suppkey"), lit(50)).as("bk"), col("s_acctbal"))
          .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
        left.join(build.hint("shuffle_hash"), Seq("bk", "salt"))
          .groupBy("bk")
          .agg(count(lit(1)).as("n_pairs"), sum("l_quantity").as("q"))
      }),
      "prefix_jaccard" -> (k => {
        // q160 shape with content scaling the production way: each
        // copy's tokens are salted with the copy index, so vocab and
        // postings stay constant-width and candidate pairs grow
        // linearly. (Plain row-copying would make every copy a
        // near-dup of every other — output itself would be O(k²),
        // which is an OUTPUT property, not an operator defect.)
        val t5 = 4
        val docs = scaled("documents", k, "doc_id")
          .withColumn("cp", (col("doc_id") / Offset).cast("long"))
          .filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"),
            expr("array_distinct(transform(" +
              "filter(split(lower(text), ' '), w -> w != ''), " +
              "t -> concat(t, '_', cp)))").as("toks"))
        val freq = docs.select(explode(col("toks")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val sorted = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
          .join(freq, "tok")
          .groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
            .as("ranked"))
          .select(col("doc_id"),
            expr("transform(ranked, r -> r.tok)").as("toks"),
            size(col("ranked")).as("n"))
        val prefix = sorted.select(col("doc_id"), col("n"),
          explode(expr(s"slice(toks, 1, n - (n * $t5 + 4) div 5 + 1)"))
            .as("tok"))
        val cand = prefix.as("a").join(prefix.as("b"), Seq("tok"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("a.n").as("na"),
            col("b.doc_id").as("b_id"), col("b.n").as("nb"))
          .distinct()
        cand
          .join(sorted.select(col("doc_id").as("a_id"),
            col("toks").as("a_toks")), "a_id")
          .join(sorted.select(col("doc_id").as("b_id"),
            col("toks").as("b_toks")), "b_id")
          .withColumn("inter",
            size(array_intersect(col("a_toks"), col("b_toks"))).cast("long"))
          .filter(col("inter") * 5 >=
            (col("na") + col("nb") - col("inter")) * t5)
      }),
      "suffix_array" -> (k => {
        // q182 shape, content-scaled: every copy keeps the same text, so
        // cross-copy identical suffixes deepen the tie structure (the
        // adversarial case for prefix doubling) while total characters
        // grow k-fold. Rounds stay log(max doc length); per-round work
        // is linear in characters.
        val docs = scaled("documents", k, "doc_id")
          .filter(pmod(col("doc_id"), lit(250)) === 0 &&
            length(col("text")) > 0)
          .select(col("doc_id"), col("text"))
        graft.operators.TextOps.suffixArray(docs)
      }),
      "bucketed_decontam" -> (k => {
        // q164 shape scaled the production way: the benchmark side
        // stays FIXED (eval suites don't grow with the corpus) while
        // the corpus scales k× — candidate pairs grow linearly with
        // the corpus, and the broadcast bench side keeps the corpus
        // shuffle-free at any k.
        val lshB = """concat_ws('', transform(sequence(1, 4), j ->
             CASE WHEN aggregate(
               zip_with(embedding,
                 transform(sequence(1, size(embedding)),
                   kk -> CAST((j*31 + kk*17) % 7 - 3 AS DOUBLE)),
                 (x, w) -> CAST(x AS DOUBLE) * w),
               CAST(0 AS DOUBLE), (a, v) -> a + v) > 0
             THEN '1' ELSE '0' END))"""
        val bench = base("embeddings")
          .filter(pmod(col("vec_id"), lit(50)) === 0)
          .withColumn("bucket", expr(lshB))
          .select(col("bucket"), col("vec_id").as("bench_id"),
            col("embedding").as("bvec"))
        val corpus = scaled("embeddings", k, "vec_id")
          .filter(pmod(col("vec_id"), lit(50)) =!= 0)
          .withColumn("bucket", expr(lshB))
          .select(col("bucket"), col("vec_id").as("corpus_id"),
            col("embedding"))
        corpus.join(broadcast(bench), "bucket")
          .select(col("bench_id"), col("corpus_id"),
            (expr("array_dot(embedding, bvec)") /
              (sqrt(expr("array_dot(embedding, embedding)")) *
                sqrt(expr("array_dot(bvec, bvec)")))).as("c"))
          .withColumn("rk", row_number().over(Window.partitionBy("bench_id")
            .orderBy(col("c").desc, col("corpus_id").asc)))
          .filter(col("rk") <= 3)
      }),
      "time_travel_fanout" -> (k => {
        // q161 shape: commit log scaled, constant retained-version
        // fan-out (×3) — map-side explode, two combined shuffles.
        val docs = scaled("documents", k, "doc_id")
        val ops =
          docs.select(col("doc_id"), lit(1).as("ver"), lit("I").as("op"))
            .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
              .select(col("doc_id"), lit(2).as("ver"), lit("U").as("op")))
            .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
              .select(col("doc_id"), lit(3).as("ver"), lit("D").as("op")))
        ops.withColumn("v", explode(expr("sequence(ver, 3)")))
          .groupBy("v", "doc_id")
          .agg(expr("max_by(op, ver)").as("op"))
          .groupBy("v")
          .agg(sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("n_live"))
      }),
      "interval_islands" -> (k => {
        // q185 shape: islands via two per-user window passes + two
        // grouped aggs; every stage hash-partitions on user_id, so the
        // ratio tracks event volume.
        val byTime = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val prevEnd = max("iv_end")
          .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
        scaled("events", k, "user_id", "event_id")
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("iv_end", col("ts") + lit(1800000000000L))
          .withColumn("ni",
            when(prevEnd.isNull || col("ts") > prevEnd, 1L).otherwise(0L))
          .withColumn("island", sum("ni")
            .over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(min("ts").as("s"), max("iv_end").as("e"))
          .groupBy("user_id").agg(count(lit(1)).as("n"))
      }),
      "aho_scan" -> (k => {
        // q186 shape: the automaton is FIXED (built once from the base
        // corpus's top-20 terms) while the scanned corpus scales k× —
        // per-document cost is one text pass independent of pattern
        // count, so the ratio tracks corpus bytes.
        val terms = base("documents")
          .select(explode(filter(split(lower(col("text")), " "),
            w => length(w) >= 4)).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token").asc).limit(20)
          .select("token")
          .collect().map(_.getString(0)).toSeq
        val bcAc = spark.sparkContext.broadcast(
          graft.functions.AhoCorasick.build(terms))
        val termArr = terms.toArray
        scaled("documents", k, "doc_id")
          .select(lower(col("text")).as("text"))
          .as(org.apache.spark.sql.Encoders.STRING)
          .flatMap(t => bcAc.value.matchedPatterns(t).map(termArr(_)))(
            org.apache.spark.sql.Encoders.STRING)
          .toDF("term")
          .groupBy("term").agg(count(lit(1)).as("n_docs"))
      }),
      "bfs_round" -> (k => {
        // q187's dominant stage: ONE frontier expansion over a k×
        // edge list (join on src, neighbor dedup, anti-join vs
        // settled). Seeds live in copy 0 only; the probe measures the
        // edge-side shuffle, which is what grows with the graph.
        val eo = scaled("lineitem", k, "l_orderkey", "l_suppkey")
          .join(scaled("orders", k, "o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = eo.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val seeds = edges.filter(col("src") % 2 === 0 && col("src") < 10)
          .select(col("src").as("id")).distinct()
        edges.join(seeds.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id")).distinct()
          .join(seeds, Seq("id"), "left_anti")
      }),
      "checksum_buckets" -> (k => {
        // q188 shape: pure map-side hashing + a 64-partial shuffle —
        // the ratio is the scan itself.
        val canon = concat_ws("|",
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_linestatus"))
        val hv = conv(substring(md5(canon), 1, 13), 16, 10).cast("long")
        scaled("lineitem", k, "l_orderkey")
          .select((hv % 64).as("bucket"), (hv % 1000000007L).as("res"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            (sum("res") % 1000000007L).as("checksum"))
      }),
      "bpe_pair_count" -> (k => {
        // q191's per-round dominant stage: per-doc lead() + the
        // map-side-combined pair count (the argmax row and the merge
        // application ride the same windows).
        val byPos = Window.partitionBy("doc_id").orderBy("pos")
        scaled("documents", k, "doc_id")
          .filter(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"),
            posexplode(filter(split(lower(col("text")), " "),
              w => w =!= "")).as(Seq("pos", "t")))
          .withColumn("nxt", lead("t", 1).over(byPos))
          .filter(col("nxt").isNotNull && col("t") =!= col("nxt"))
          .groupBy("t", "nxt").agg(count(lit(1)).as("cnt"))
      }),
      "gap_fill" -> (k => {
        // q192 shape: densify each user's span + forward fill — all
        // per-user windows; generated rows scale with users × days.
        val ev = scaled("events", k, "user_id")
          .select(col("user_id"),
            expr("ts div 86400000000000").as("day"),
            floor(col("value") * 100).cast("long").as("cents"))
        val daily = ev.groupBy("user_id", "day")
          .agg(sum("cents").as("day_cents"))
        val span = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val byDay = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        span.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            last("day_cents", ignoreNulls = true).over(byDay)
              .as("filled_cents"))
      }),
      "lpa_vote_round" -> (k => {
        // q194's per-round body: edge⋈label join + (node, label) count
        // + per-node rank-1 window.
        val eo = scaled("lineitem", k, "l_orderkey", "l_suppkey")
          .join(scaled("orders", k, "o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = eo.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val labels = edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
        edges.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(Window.partitionBy("id")
            .orderBy(col("cnt").desc, col("label").asc)))
          .filter(col("rn") === 1)
      }),
      "segment_dedup" -> (k => {
        // q196's shape: segment explode + corpus-wide keep-first window
        // keyed on the segment. Segments scale linearly with docs.
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val segs = scaled("documents", k, "doc_id")
          .select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, int(ceil(size(t) / 20.0)) - 1),
               i -> array_join(slice(t, i * 20 + 1, 20), ' '))""")))
          .toDF("doc_id", "seg_idx", "seg")
        segs.withColumn("rn", row_number().over(Window.partitionBy("seg")
            .orderBy(col("doc_id"), col("seg_idx"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segs"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      }),
      "contamination_frac" -> (k => {
        // q198's shape: distinct 5-grams + broadcast bench join. The
        // bench side grows with k too (worst case for the broadcast).
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        val grams = scaled("documents", k, "doc_id")
          .select(col("doc_id"), toks.as("t"))
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
      }),
      "kcore_round" -> (k => {
        // q199's per-round body: degree count + two survivor joins.
        val eo = scaled("lineitem", k, "l_orderkey", "l_suppkey")
          .join(scaled("orders", k, "o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = eo.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 30)
          .select(col("src").as("id"))
        edges.join(keep.select(col("id").as("src")), "src")
          .join(keep.select(col("id").as("dst")), "dst")
      }),

      "er_pair_verify" -> (k => {
        // q217's blocking + verify stage. Names get a per-copy 8-hex
        // tag so cross-copy edit distance stays > 1 — pair work scales
        // WITH the corpus instead of quadratically across copies
        // (plain replication would put k copies of every name in the
        // same deletion bucket).
        val recs = (0 until k).map { i =>
          base("supplier").select(
            (col("s_suppkey") + lit(i * Offset)).as("id"),
            concat(lower(col("s_name")), lit(" "),
              lit(java.security.MessageDigest.getInstance("MD5")
                .digest(i.toString.getBytes("UTF-8"))
                .map("%02x".format(_)).mkString.take(8))).as("nm"))
        }.reduce(_ unionByName _)
        val variants = recs.select(col("id"), col("nm"), explode(expr(
          """array_union(array(nm), transform(sequence(1, length(nm)),
             i -> concat(substring(nm, 1, i - 1),
                         substring(nm, i + 1, length(nm) - i))))"""
          )).as("variant"))
        val a = variants.select(col("variant"), col("id").as("a_id"),
          col("nm").as("a_nm"))
        val b = variants.select(col("variant"), col("id").as("b_id"),
          col("nm").as("b_nm"))
        a.join(b, "variant").filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id", "a_nm", "b_nm").distinct()
          .filter(levenshtein(col("a_nm"), col("b_nm")) <= 1)
      }),

      "cc_converge" -> (k => {
        // The pointer-jumping CC loop on k disjoint 512-node chains —
        // the worst diameter shape. Rounds are O(log 512) regardless
        // of k, so wall ratio ≈ data ratio; the pre-jump hash-min
        // would pay 512 rounds here and never finish the probe.
        val chains = spark.range(k.toLong)
          .select(explode(expr("sequence(1, 511)")).as("pos"),
            (col("id") * Offset).as("off"))
          .select((col("pos") + col("off")).as("a_id"),
            (col("pos") + col("off") + 1).as("b_id"))
        graft.operators.GraphOps.connectedComponents(chains)
      }),

      "value_overlap" -> (k => {
        // q222's pair stage: distinct value sets equi-joined on the
        // value; posting lists bounded by the profiled-column count.
        val cols = Seq(
          ("customer", "c_custkey"), ("orders", "o_custkey"),
          ("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
        val vals = cols.map { case (t, c) =>
          scaled(t, k, c).select(col(c).cast("long").as("v")).distinct()
            .select(lit(s"$t.$c").as("col_name"), col("v"))
        }.reduce(_ unionByName _)
        val a = vals.select(col("col_name").as("col_a"), col("v"))
        val b = vals.select(col("col_name").as("col_b"), col("v"))
        a.join(b, "v").filter(col("col_a") < col("col_b"))
          .groupBy("col_a", "col_b").agg(count(lit(1)).as("n_inter"))
      }),

      "cdc_chunk" -> (k => {
        // q223's chunk split + rollup. Replicated docs multiply group
        // occupancy, not group count — the rollup stays map-side
        // combined either way.
        scaled("documents", k, "doc_id")
          .select(col("doc_id"), col("text"),
            length(col("text")).as("len"))
          .withColumn("cuts", expr(
            """array_sort(concat(array(1),
                 filter(sequence(2, greatest(2, len - 3)),
                   i -> i <= len - 3 AND
                     CAST(conv(substring(md5(substring(text, i, 4)),
                          1, 4), 16, 10) AS BIGINT) % 37 = 0)))"""))
          .select(col("doc_id"), explode(expr(
            """zip_with(cuts,
                 concat(slice(cuts, 2, size(cuts) - 1), array(len + 1)),
                 (st, en) -> substring(text, st, en - st))"""))
            .as("chunk"))
          .groupBy("chunk")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
      }),

      "rank_metric_hist" -> (k => {
        // q228/q229's backbone: corpus → per-distinct-score histogram
        // → domain-sized cumulative window. Replication multiplies
        // histogram OCCUPANCY, not the domain, so the single-partition
        // window stays constant-size and only the map-side-combined
        // histogram build scales — ratio should track the scan.
        val ev = scaled("events", k, "event_id").select(
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
          expr("CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0" +
            " END AS BIGINT)").as("pos"))
        val h = ev.groupBy("cents")
          .agg(sum("pos").as("pos_s"), sum(expr("1 - pos")).as("neg_s"))
        val below = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        h.withColumn("cnb", coalesce(sum("neg_s").over(below), lit(0L)))
          .agg(sum(expr("pos_s * (2 * cnb + neg_s)")).as("u2"),
            sum("pos_s").as("n_pos"), sum("neg_s").as("n_neg"))
      }),

      "pct_rank_join" -> (k => {
        // q232's write-back: the domain-sized rank map broadcast-joins
        // onto a corpus that scales ×k — the join probe for the
        // normalize-then-write-back pattern.
        val ev = scaled("events", k, "event_id").select(col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        val hist = ev.groupBy("cents").agg(count(lit(1)).as("n_c"))
        val below = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = hist.withColumn("cum_below",
          coalesce(sum("n_c").over(below), lit(0L)))
        val tot = ev.agg(count(lit(1)).as("n"))
        ev.join(broadcast(cum.select("cents", "cum_below")), "cents")
          .crossJoin(broadcast(tot))
          .select(col("event_id"),
            expr("cum_below * 1000000L div n").as("pct_ppm"))
      }),

      "bootstrap_resample" -> (k => {
        // q234's resample: pure-map ×20 fan-out + 20-row rollup.
        // Strictly linear by construction; the probe guards against
        // the explode accidentally planning a shuffle.
        scaled("events", k, "event_id").select(col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
          .select(col("event_id"), col("cents"),
            explode(expr("sequence(0L, 19L)")).as("rep"))
          .withColumn("u", expr(
            "CAST(conv(substring(md5(CAST(event_id * 20 + rep" +
              " AS STRING)), 1, 13), 16, 10) AS BIGINT) % 1000000"))
          .withColumn("w", expr(
            "CASE WHEN u < 367879 THEN 0L WHEN u < 735759 THEN 1L" +
              " WHEN u < 919699 THEN 2L WHEN u < 981012 THEN 3L" +
              " WHEN u < 996340 THEN 4L ELSE 5L END"))
          .groupBy("rep")
          .agg(sum(expr("w * cents")).as("wsum"), sum("w").as("wn"))
      }),

      "fd_stack" -> (k => {
        // q253/q254/q255's stacked-profiling class: one scan explodes
        // the candidate set map-side, one grouped shuffle answers all
        // candidates. Shifting o_custkey scales lhs-group COUNT (not
        // just occupancy), so the distinct-y agg itself scales.
        val pairs = for {
          x <- Seq("o_custkey", "o_orderstatus", "o_orderpriority")
          y <- Seq("o_custkey", "o_orderstatus", "o_orderpriority")
          if x != y
        } yield (x, y)
        scaled("orders", k, "o_orderkey", "o_custkey")
          .select(explode(array(pairs.map { case (x, y) =>
            struct(lit(x).as("lhs"), lit(y).as("rhs"),
              col(x).cast("string").as("xv"),
              col(y).cast("string").as("yv"))
          }: _*)).as("p")).select(col("p.*"))
          .groupBy("lhs", "rhs", "xv")
          .agg(countDistinct("yv").as("ndv_y"))
          .groupBy("lhs", "rhs")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("ndv_y") > 1, 1L).otherwise(0L)).as("n_viol"))
      }),

      "join_size_hist" -> (k => {
        // q251's audit: two per-key histograms + a key-equi histogram
        // join — the estimated join (|rows|² per hot key) is never
        // materialized, so the probe must scale with the HISTOGRAM
        // (k× keys after the user_id shift), not the join output.
        val h = scaled("events", k, "event_id", "user_id")
          .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("c"))
        h.select(col("k"), col("c").as("cl"))
          .join(h.select(col("k"), col("c").as("cr")), "k")
          .agg(sum(expr("cl * cr")).as("actual_rows"),
            count(lit(1)).as("ndv"))
      }),

      "ancestor_explode" -> (k => {
        // q277's shape: per-node reduction, then the depth-bounded
        // ancestor explode + rollup. Shifting user_id scales the NODE
        // count; fan-out stays ≤ 21 per node regardless.
        scaled("events", k, "event_id", "user_id")
          .select((col("user_id") + 1).as("node"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .groupBy("node")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
          .select(explode(expr(
            "transform(sequence(0, 20), k -> shiftright(node, k))"))
            .as("anc"), col("n_events"), col("cents"))
          .filter(col("anc") >= 1)
          .groupBy("anc")
          .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      }),

      "sketch_rollup" -> (k => {
        // q278's level-0 shape: corpus → ≤K-long per-group KMV
        // sketches (map-side combined — at most K longs per group per
        // partition cross the wire, independent of group occupancy).
        val kmv = udaf(new graft.functions.KmvMinK(64))
        scaled("orders", k, "o_orderkey", "o_custkey")
          .select((col("o_custkey") % 25).as("g"),
            conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
              16, 10).cast("long").as("hv"))
          .groupBy("g").agg(kmv(col("hv")).as("arr"))
          .select(col("g"), size(col("arr")).as("sz"))
      }),

      "ppr_round" -> (k => {
        // One q256 propagation round on a k×-node graph (shifted keys
        // replicate the bipartite components): share division, edge
        // join, inflow agg, sparse teleport full-outer. Linear in |E|.
        val eo = scaled("lineitem", k, "l_orderkey", "l_suppkey")
          .join(scaled("orders", k, "o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        val edges = eo.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val seeds = scaled("customer", k, "c_custkey")
          .filter(col("c_mktsegment") === "BUILDING")
          .select((col("c_custkey") * 2).as("id"))
        val rank = seeds.select(col("id"), lit(300000000L).as("r"))
        val divided = rank.join(deg, rank("id") === deg("src"))
          .select(col("src"), expr("r div deg").as("share"))
        val seedFlag = seeds
          .select(col("id").as("sid"), lit(1L).as("is_seed"))
        edges.join(divided, "src")
          .groupBy("dst").agg(sum("share").as("m"))
          .join(seedFlag, col("dst") === col("sid"), "full_outer")
          .select(coalesce(col("dst"), col("sid")).as("id"),
            (expr("coalesce(m, 0L) * 85 div 100") +
              when(col("is_seed").isNotNull, lit(45000000L))
                .otherwise(lit(0L))).as("r"))
      }),

      "psi_hist" -> (k => {
        // q287 shape: per-half share histogram over pinned bins — one
        // map-side-combined shuffle of a few dozen partials; the ratio
        // is the scan.
        scaled("events", k, "event_id")
          .select(expr("CAST(floor(value * 100) AS BIGINT) div 1000")
            .as("bin"), expr("event_id % 2").as("late"))
          .groupBy("bin")
          .agg(sum(expr("1 - late")).as("n_p"), sum("late").as("n_q"))
      }),

      "hll_agg" -> (k => {
        // q288 shape: the register sketch ships 128 bytes per group
        // per partition regardless of cardinality — near-linear scan
        // cost, flat shuffle.
        val hll = udaf(new graft.functions.HllSketch())
        scaled("events", k, "event_id", "user_id")
          .select(col("event_type"),
            expr("""CAST(conv(substring(md5(CAST(user_id AS STRING)), 1,
                 15), 16, 10) AS BIGINT)""").as("h"))
          .groupBy("event_type").agg(hll(col("h")).as("est"))
      }),

      "funnel_window" -> (k => {
        // q289 shape: per-user ordered window + step cut; work is the
        // user-partitioned sort, linear in events.
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        scaled("events", k, "event_id", "user_id")
          .withColumn("step", row_number().over(w))
          .withColumn("nxt", lead("event_type", 1).over(w))
          .filter(col("step") <= 5 && col("nxt").isNotNull)
          .groupBy("step", "event_type", "nxt")
          .agg(count(lit(1)).as("n"))
      }),

      // wave-63 blocked-linkage pair scoring: replicas shift BOTH the
      // row key and the block key, so block sizes stay constant while
      // block count scales — the posture the q313 comment promises
      // (finer blocks at bigger corpora). Near-k ratios here certify
      // the pair stage is linear when blocking does its job.
      "fs_block_pairs" -> (k => {
        val c = scaled("customer", k, "c_custkey", "c_nationkey")
          .select(col("c_custkey").as("ck"), col("c_nationkey").as("nat"),
            col("c_name").as("nm"), col("c_mktsegment").as("seg"))
        c.select(col("ck").as("a"), col("nat"), col("nm").as("nm_a"),
            col("seg").as("seg_a"))
          .join(c.select(col("ck").as("b"), col("nat"),
            col("nm").as("nm_b"), col("seg").as("seg_b")), "nat")
          .select((col("nm_a") === col("nm_b")).cast("long").as("na"),
            (col("seg_a") === col("seg_b")).cast("long").as("sa"))
          .agg(sum("na").as("x"), sum("sa").as("y"))
      }),
      // wave-63 Kendall pair stage at constant block size (top-50 cap).
      "kendall_pairs" -> (k => {
        val w = Window.partitionBy("nat").orderBy(col("cents").desc,
          col("ck"))
        val ranked = scaled("customer", k, "c_custkey", "c_nationkey")
          .select(col("c_custkey").as("ck"),
            col("c_nationkey").as("nat"),
            expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
          .withColumn("r1", row_number().over(w))
          .filter(col("r1") <= 50)
        ranked.select(col("nat"), col("ck").as("a"), col("r1").as("ra"))
          .join(ranked.select(col("nat"), col("ck").as("b"),
            col("r1").as("rb")), "nat")
          .filter(col("a") < col("b"))
          .agg(sum(expr("CAST(ra < rb AS BIGINT)")).as("c"))
      }),
      // wave-68 within-basket pair explosion (bounded by basket size).
      "basket_pairs" -> (k => {
        val items = scaled("lineitem", k, "l_orderkey")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        items.select(col("ok"), col("pk").as("p1"))
          .join(items.select(col("ok"), col("pk").as("p2")), "ok")
          .filter(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
      }),
      // wave-69 per-user trigram expansion (two leads, one count).
      "trigram_paths" -> (k => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        scaled("events", k, "user_id", "event_id")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("t1"))
          .withColumn("t2", lead("t1", 1).over(w))
          .withColumn("t3", lead("t1", 2).over(w))
          .filter(col("t2").isNotNull && col("t3").isNotNull)
          .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      }),
      // wave-65/68 hourly fold feeding burst detection: corpus → hour
      // frame in one combinable pass (more rows per hour, same frame).
      "burst_hourly_fold" -> (k =>
        scaled("events", k, "event_id")
          .groupBy(expr("ts div 3600000000000").as("h"))
          .agg(count(lit(1)).as("cnt"))),
      // wave-69 RFM: per-customer fold + domain-bounded histograms.
      "rfm_fold" -> (k =>
        scaled("orders", k, "o_custkey", "o_orderkey")
          .groupBy("o_custkey")
          .agg(max(expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"))
            .as("last_dd"), count(lit(1)).as("f"),
            sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
              .as("cents"))
          .groupBy("f").agg(count(lit(1)).as("c"))),
      // wave-70 positional postings build (tokenize + per-row lambdas,
      // one count shuffle on the shingle key).
      "phrase_postings" -> (k => {
        val toks = filter(split(lower(col("text")), " "), w => w =!= "")
        scaled("documents", k, "doc_id")
          .withColumn("t", toks)
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, size(t) - 3),
               i -> concat_ws(' ', slice(t, i + 1, 3)))"""))
            .as(Seq("pos", "shingle")))
          .groupBy("shingle").agg(count(lit(1)).as("n"))
      }),
      // wave-70 bitmap OR-fold (62 users per word, one combinable agg).
      "bitmap_fold" -> (k =>
        scaled("events", k, "user_id")
          .select(col("event_type").as("et"),
            expr("user_id div 62").as("w"),
            expr(
              "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
              .as("bit"))
          .groupBy("et", "w").agg(expr("bit_or(bit)").as("bits"))),
      // wave-73 attribution range join (user-blocked, 7-day residual).
      "attribution_pairs" -> (k => {
        val ev = scaled("events", k, "user_id", "event_id")
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"))
        val touch = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts").as("tts"),
            col("event_type").as("channel"))
        conv.join(touch, Seq("user_id"))
          .filter(col("tts") < col("pts") &&
            col("tts") >= col("pts") - lit(7L * 86400000000000L))
          .groupBy("channel").agg(count(lit(1)).as("n"))
      }),
      // wave-77 sorted matching scan (user fold + ordered neighbors).
      // Round 7's sf1 run proved this probe's old body — a single
      // global Window.orderBy — passes the 8× ceiling at probe sizes
      // while blowing 24× at sf1 (the ceiling is too forgiving for a
      // one-task funnel that still fits in memory at 8×). The probe now
      // runs the production shape, OrderedScan.neighborScan, and the
      // plan-audit spec asserts the partitioned form separately.
      "matching_scan" -> (k => {
        val u = scaled("events", k, "user_id")
          .groupBy("user_id")
          .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("x"))
          .withColumn("t", expr("user_id % 2"))
        graft.operators.OrderedScan
          .neighborScan(u, Seq("x", "t", "user_id"),
            when(col("t") === 0, col("x")), "bx", "fx")
          .filter(col("t") === 1)
          .agg(sum(expr("abs(x - coalesce(bx, 0))")).as("g"))
      }),
      // wave-74 M4 fold (pure combinable aggregate over the corpus).
      "m4_fold" -> (k =>
        scaled("events", k, "event_id")
          .select(col("ts"), col("event_id"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("c"))
          .withColumn("bucket", expr("ts div 3600000000000"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), min("c").as("mn"),
            max("c").as("mx"),
            min(struct(col("ts"), col("event_id"), col("c"))).as("f"),
            max(struct(col("ts"), col("event_id"), col("c"))).as("l"))),
      // wave-78 user×type chi-square grid (corpus-keyed × 5 types).
      "chi2_grid" -> (k => {
        val ev = scaled("events", k, "user_id")
          .select(col("user_id"), col("event_type"))
        val types = ev.groupBy("event_type")
          .agg(count(lit(1)).as("c_t"))
        val userN = ev.groupBy("user_id").agg(count(lit(1)).as("n_u"))
        val obs = ev.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("o"))
        userN.crossJoin(broadcast(types))
          .join(obs, Seq("user_id", "event_type"), "left")
          .na.fill(0L, Seq("o"))
          .groupBy("user_id").agg(sum("o").as("s"))
      }),
      // wave-84 selective MIN re-agg: classify + semi-join recompute.
      "min_maintenance" -> (k => {
        val li = scaled("lineitem", k, "l_orderkey", "l_partkey")
          .select(col("l_partkey").as("pk"), col("l_orderkey").as("ok"),
            expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
              .as("pc"))
        val oldMin = li.groupBy("pk").agg(min("pc").as("mn"))
        val delMin = li.filter(col("ok") % 11 === 0)
          .groupBy("pk").agg(min("pc").as("dmn"))
        val invalidated = oldMin.join(delMin, Seq("pk"), "left")
          .filter(col("dmn").isNotNull && col("dmn") <= col("mn"))
          .select("pk")
        li.filter(col("ok") % 11 =!= 0)
          .join(invalidated, Seq("pk"), "left_semi")
          .groupBy("pk").agg(min("pc").as("mn"))
      }),
      // wave-90 growth accounting: customer×month fold + lag window.
      "growth_accounting" -> (k => {
        val cm = scaled("orders", k, "o_custkey", "o_orderkey")
          .groupBy(col("o_custkey").as("ck"),
            expr("""datediff(CAST(o_orderdate AS DATE),
                DATE '1970-01-01') div 30""").as("m"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        val w = Window.partitionBy("ck").orderBy("m")
        cm.withColumn("prev", lag("cents", 1).over(w))
          .groupBy("m")
          .agg(sum(when(col("prev").isNull, col("cents"))
            .otherwise(0L)).as("new_c"))
      }),
      // wave-91 blocked payment pairs ((customer, band) key).
      "payment_pairs" -> (k => {
        val o = scaled("orders", k, "o_custkey", "o_orderkey")
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 100000")
              .as("band"))
        o.select(col("ck"), col("band"), col("ok").as("a"))
          .join(o.select(col("ck"), col("band"), col("ok").as("b")),
            Seq("ck", "band"))
          .filter(col("a") < col("b"))
          .agg(count(lit(1)).as("n"))
      }),
      // wave-92 quantized embedding moments (posexplode + keyed agg).
      "fisher_moments" -> (k =>
        scaled("embeddings", k, "vec_id")
          .select(col("label"), posexplode(expr(
            """transform(embedding,
               x -> CAST(floor(x * 1000000) AS BIGINT))"""))
            .as(Seq("dim", "xq")))
          .groupBy("dim", "label")
          .agg(count(lit(1)).as("n"), sum("xq").as("sx"),
            sum(expr("CAST(xq AS DECIMAL(38,0)) * xq")).as("sxx"))),
      "centroid_score" -> (k => {
        // q282 shape: P-row centroid broadcast × corpus scoring, then
        // a map-side-combined argmin — map-only over the embeddings,
        // so the ratio tracks vector count.
        val e = scaled("embeddings", k, "vec_id")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        val cents = e
          .select(col("label").as("clabel"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("clabel", "pos").agg(round(avg("x"), 6).as("c"))
          .groupBy("clabel")
          .agg(expr(
            "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
            .as("cvec"))
        e.crossJoin(broadcast(cents))
          .withColumn("score", expr(
            """round(aggregate(zip_with(cvec, cvec, (x, y) -> x * y),
                 CAST(0 AS DOUBLE), (acc, t) -> acc + t)
               - 2 * aggregate(zip_with(v, cvec, (x, y) -> x * y),
                 CAST(0 AS DOUBLE), (acc, t) -> acc + t), 6)"""))
          .groupBy("vec_id", "label")
          .agg(min(struct(col("score"), col("clabel"))).as("m"))
      }),

      "zorder_layout" -> (k => {
        // q385 shape: one scan explodes 3 layout tags, one (layout,
        // file) zone-map agg. Files are VALUE buckets, so replication
        // multiplies per-file occupancy, never file count — the probe
        // should track the scan.
        val li = scaled("lineitem", k, "l_orderkey").select(
          (col("l_partkey") % 256).as("a"),
          (col("l_suppkey") % 256).as("b"), col("l_orderkey"))
        val z = (0 until 8).map { i =>
          s"(((a) div ${1 << i}) % 2) * ${1L << (2 * i)}" +
            s" + (((b) div ${1 << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        li.withColumn("zf", expr(s"($z) div 256"))
          .select(col("a"), col("b"), explode(array(
            struct(lit("z").as("layout"), col("zf").as("file")),
            struct(lit("l").as("layout"), col("a").as("file")),
            struct(lit("r").as("layout"),
              (col("l_orderkey") % 256).as("file")))).as("lf"))
          .groupBy("lf.layout", "lf.file")
          .agg(count(lit(1)).as("n"), min("a").as("mna"),
            max("a").as("mxa"), min("b").as("mnb"), max("b").as("mxb"))
      }),

      "adaptive_lsh_knn" -> (k => {
        // q386 shape with the adaptivity made explicit: the sign-LSH
        // code length grows with the corpus (bits = bitlength((n-1)
        // div 125)), so the within-bucket pair stage is O(n · 125) —
        // the probe's ratio must track n, NOT n² (a fixed code would
        // read ~k²). Probe uses 4 planes + id-salt buckets to keep the
        // replicated copies from landing in identical buckets.
        val e = scaled("embeddings", k, "vec_id")
          .select(col("vec_id"), col("label"), col("embedding"))
        val n = e.count()
        val bits = math.max(4, java.lang.Long.toBinaryString(
          math.max(1L, (n - 1) / 125)).length)
        val bucketed = e.withColumn("bucket",
          expr(s"pmod(CAST(conv(substring(md5(CAST(vec_id AS STRING))," +
            s" 1, 13), 16, 10) AS BIGINT), ${1L << bits})"))
        val a = bucketed.select(col("vec_id").as("a_id"),
          col("embedding").as("a_vec"), col("bucket"))
        val b = bucketed.select(col("vec_id").as("b_id"),
          col("embedding").as("b_vec"), col("bucket"))
        a.join(b, "bucket").filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"),
            round(call_function("array_dot", col("a_vec"), col("b_vec")),
              6).as("dp"))
          .groupBy("a_id").agg(max("dp").as("best"))
      }),

      "blocking_audit" -> (k => {
        // q387 shape: four grouped size aggregations + C(n,2)
        // arithmetic, zero pair materialization — the audit must scale
        // with the corpus even as the (quadratic) pair COUNTS it
        // reports explode.
        val c = scaled("customer", k, "c_custkey").select(
          col("c_nationkey").cast("long").as("nat"), col("c_mktsegment")
            .as("seg"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
          .withColumn("tk", expr("cents div 1000"))
          .withColumn("b1", expr("cents div 3000"))
        val g1 = c.groupBy("b1").agg(count(lit(1)).as("n"))
          .agg(expr("sum(n * (n - 1) div 2)").as("v"))
        val g2 = c.groupBy("nat", "seg").agg(count(lit(1)).as("n"))
          .agg(expr("sum(n * (n - 1) div 2)").as("v"))
        val g3 = c.groupBy("nat", "tk", "b1").agg(count(lit(1)).as("n"))
          .agg(expr("sum(n * (n - 1) div 2)").as("v"))
        g1.unionByName(g2).unionByName(g3).agg(sum("v").as("t"))
      }))

    def time(df: => DataFrame): Double = {
      // same hygiene as Bench: drop caches and drain the shuffle/
      // broadcast cleanup backlog OUTSIDE the timed window, so a
      // cleanup storm from earlier probes can't land mid-measurement
      // (observed inflating late probes ~3×). BY-NAME df: probes that
      // run driver-side loops eagerly at construction (cc_converge's
      // convergence loop) must construct INSIDE the timed window or
      // the probe measures only the final count.
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      df.count()
      (System.nanoTime() - t0) / 1e9
    }

    // Optional third arg: comma-separated probe-name prefixes — iterate
    // on one probe without replaying the whole suite.
    val only = args.lift(2).map(_.split(',').toSeq)
    val results = probes.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, mk) =>
      time(mk(1)); time(mk(n)) // warmup both shapes
      val t1 = time(mk(1))
      val tn = time(mk(n))
      (name, t1, tn, tn / t1)
    }
    val qs = results.map { case (k, t1, tn, r) =>
      f""""$k":{"t1":$t1%.2f,"t$n":$tn%.2f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    // "shapes" is the authoritative probe count (probes.size) so prose
    // claims are checkable against the committed output — round 6's
    // "84 probes" drifted from the map's actual 78.
    println(s"""{"metric":"scale_probe","factor":$n,""" +
      s""""shapes":${probes.size},"ran":${results.size},"probes":$qs}""")
    spark.stop()
  }
}
