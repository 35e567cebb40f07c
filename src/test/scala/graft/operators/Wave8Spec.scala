package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.functions.KmvMinK

/** Contracts for the wave-8 operators: KMV sketch set algebra (q165),
  * contrastive hard-negative mining (q166), the watermarked
  * stream-stream LEFT OUTER join (q167, see StreamingSpec), the
  * decorrelated-subquery SQL surface (q168/q169), URL canonicalization
  * dedup (q170) and the paired-modality CLIP gate (q171). The DuckDB
  * oracle checks exact values at three SFs; these pin the structural
  * invariants each operator's 100 TB story rests on.
  */
class Wave8Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    graft.functions.GraftFunctions.register(s)
    s
  }

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private def executedPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // ---- q165: KMV sketch set algebra ----------------------------------

  test("KmvMinK state is bounded by k and mergeable (sketch of union == " +
    "merge of sketches)") {
    val k = 8
    val agg = new KmvMinK(k)
    val xs = (1L to 1000L).map(x => x * 2654435761L % 104729L)
    val ys = (500L to 1500L).map(x => x * 2654435761L % 104729L)
    def sketch(vs: Seq[Long]) = vs.foldLeft(agg.zero)(agg.reduce)
    val sx = sketch(xs)
    val sy = sketch(ys)
    assert(sx.length <= k && sy.length <= k)
    assert(sx.sorted.sameElements(sx), "state stays sorted")
    // mergeability: merging the two per-partition sketches equals
    // sketching the concatenated stream — the property that lets the
    // aggregator map-side combine
    assert(agg.merge(sx.clone(), sy.clone()).sameElements(sketch(xs ++ ys)))
    // the retained values are exactly the k smallest distinct
    assert(sketch(xs ++ ys).sameElements((xs ++ ys).distinct.sorted.take(k)))
  }

  test("q165: union estimate is within 3/sqrt(k) of the exact distinct " +
    "union, and identical sources give jaccard_ppm = 1e6") {
    val rows = SparkEntry.queries("q165_kmv_set_ops")(spark, sf).collect()
    assert(rows.nonEmpty)
    // exact per-pair distinct shingle union, recomputed from scratch
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val shingles: Map[String, Set[String]] = docs.groupBy(_._1).map {
      case (src, ds) =>
        src -> ds.flatMap { case (_, t) =>
          val toks = t.toLowerCase.split(" ").filter(_.nonEmpty)
          toks.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        }.toSet
    }
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      val exact = (shingles(a) ++ shingles(b)).size.toDouble
      val est = r.getAs[Long]("union_est").toDouble
      // KMV standard error is ~1/sqrt(k-2); allow 3 sigma at k=64
      assert(math.abs(est - exact) / exact < 3.0 / math.sqrt(62.0),
        s"pair ($a,$b): est $est vs exact $exact")
    }
    rows.foreach { r =>
      val j = r.getAs[Long]("jaccard_ppm")
      assert(j >= 0 && j <= 1000000)
      assert(r.getAs[Long]("inter_est") <= r.getAs[Long]("union_est"))
    }
  }

  // ---- q166: hard-negative mining ------------------------------------

  test("q166: top-3 per anchor, never the anchor's own label, plan keeps " +
    "the corpus un-shuffled (broadcast anchors + window group limit)") {
    val df = graft.SparkEntry.queries("q166_hard_negatives")(spark, sf)
    val got = df.collect()
    val labels = graft.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("a_id")).foreach { case (aId, g) =>
      assert(g.length == 3, s"anchor $aId should have exactly 3 negatives")
      assert(g.map(_.getAs[Int]("rank")).sorted.sameElements(Array(1, 2, 3)))
      g.foreach { r =>
        assert(labels(r.getAs[Long]("neg_id")) != labels(aId),
          "a hard negative must come from a different label")
      }
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "anchors must broadcast — the corpus side is never shuffled for the join")
    assert(plan.contains("WindowGroupLimit"),
      "row_number<=3 must plan a group-limit so the rank exchange is bounded")
  }

  // ---- q168/q169: subquery decorrelation -----------------------------

  test("q168/q169: Catalyst decorrelates both subqueries — no nested-loop " +
    "join, no per-row re-execution") {
    for (q <- Seq("q168_exists_subquery", "q169_scalar_subquery")) {
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q must decorrelate to a hash join, got:\n$plan")
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("q169 equals the explicit pre-aggregate-and-join formulation") {
    val got = graft.SparkEntry.queries("q169_scalar_subquery")(spark, sf)
      .collect().head
    val li = graft.Tables.table(spark, sf, "lineitem")
    val part = graft.Tables.table(spark, sf, "part")
    val avgs = li.groupBy(col("l_partkey").as("pk"))
      .agg(avg("l_quantity").as("avg_q"))
    val want = li.join(part, col("p_partkey") === col("l_partkey"))
      .filter(col("p_brand") === "Brand#12")
      .join(avgs, col("pk") === col("l_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_q"))
      .agg(count(lit(1)).as("n_small"),
        sum("l_quantity").cast("long").as("sum_qty"))
      .collect().head
    assert(got.getAs[Long]("n_small") == want.getAs[Long]("n_small"))
    assert(got.getAs[Long]("sum_qty") == want.getAs[Long]("sum_qty"))
  }

  // ---- q170: URL canonicalization ------------------------------------

  test("q170: all four raw variants of an item collapse to one canonical " +
    "URL with no tracking params, ports, fragments or trailing slashes") {
    val rows = SparkEntry.queries("q170_url_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val u = r.getAs[String]("canon_url")
      assert(u.startsWith("https://shop.example.com/item/"), u)
      assert(!u.contains("utm_") && !u.contains("#") && !u.contains(":443"))
      assert(!u.endsWith("/"), s"trailing slash survived: $u")
    }
    // orderkeys form contiguous runs of 4 per item except at range ends,
    // so the modal group size must be 4 and no group exceeds 4
    val sizes = rows.map(_.getAs[Long]("n_raw"))
    assert(sizes.max <= 4)
    assert(sizes.count(_ == 4) > rows.length / 2)
    // keeper is the smallest orderkey of the group by construction
    val byCanon = rows.map(r =>
      r.getAs[String]("canon_url") -> r.getAs[Long]("keeper")).toMap
    val o = graft.Tables.table(spark, sf, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val expectKeeper = o.groupBy(_ / 4).map { case (item, ks) =>
      s"https://shop.example.com/item/$item" -> ks.min
    }
    expectKeeper.foreach { case (canon, keep) =>
      assert(byCanon(canon) == keep, s"$canon keeper")
    }
  }

  // ---- q172: exact-substring dedup apply -----------------------------

  test("q172: cleaned text is exactly the tokens not covered by any " +
    "cross-document duplicated 5-token span, in order") {
    val rows = SparkEntry.queries("q172_exactsubstr_dedup")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))).toMap
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toVector)
      .toMap
    // from-scratch recompute: span -> set of docs; covered positions
    val spanDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, toks) =>
      toks.sliding(5).filter(_.length == 5).map(_.mkString(" "))
        .foreach(sp => spanDocs(sp) = spanDocs.getOrElse(sp, Set.empty) + id)
    }
    val dup = spanDocs.filter(_._2.size >= 2).keySet
    docs.foreach { case (id, toks) =>
      val covered = Array.fill(toks.length)(false)
      (0 to toks.length - 5).foreach { p =>
        if (dup.contains(toks.slice(p, p + 5).mkString(" ")))
          (p until p + 5).foreach(covered(_) = true)
      }
      val keptToks = toks.zipWithIndex.collect {
        case (t, i) if !covered(i) => t
      }
      val (cleanText, nKept, nRemoved) = rows(id)
      assert(cleanText == keptToks.mkString(" "), s"doc $id text")
      assert(nKept == keptToks.length.toLong, s"doc $id n_kept")
      assert(nKept + nRemoved == toks.length.toLong, s"doc $id balance")
    }
    // the pass must actually remove something on this corpus
    assert(rows.values.exists(_._3 > 0))
  }

  // ---- q173: time-range window frames --------------------------------

  test("q173: n_1h/cents_1h equal a per-user replay of the trailing " +
    "3600-second value frame (peers included)") {
    val got = SparkEntry.queries("q173_range_frame")(spark, sf).collect()
    assert(got.nonEmpty)
    val byUser = got.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rows) =>
      val evs = rows.map(r => (r.getAs[Long]("sec"),
        r.getAs[Long]("event_id"))).sortBy(identity)
      rows.foreach { r =>
        val sec = r.getAs[Long]("sec")
        val inFrame = evs.filter(e => e._1 >= sec - 3599 && e._1 <= sec)
        assert(r.getAs[Long]("n_1h") == inFrame.length.toLong,
          s"event ${r.getAs[Long]("event_id")}")
      }
    }
  }

  // ---- q175: FastSS fuzzy join ---------------------------------------

  test("q175: deletion-neighborhood candidates find EXACTLY the brute-force " +
    "edit-distance<=1 pairs (zero false negatives)") {
    val got = SparkEntry.queries("q175_fuzzy_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("dist"))).toSet
    val names = graft.Tables.table(spark, sf, "customer")
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lower(col("c_name"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ai, an) <- names; (bi, bn) <- names if ai < bi
      dd = lev(an, bn) if dd <= 1
    } yield (ai, bi, dd)).toSet
    assert(got == want)
    assert(got.nonEmpty, "the id%10 slice must contain one-edit pairs")
  }

  // ---- q176: integer least-squares trend -----------------------------

  test("q176: slope_num/slope_den equal the exact integer least-squares " +
    "sums over the recomputed daily series") {
    val got = SparkEntry.queries("q176_trend_slope")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("slope_num"),
          r.getAs[Long]("slope_den"))).toMap
    val daily = graft.Tables.table(spark, sf, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2))
      .map { case ((tpe, day), rs) => (tpe, day, rs.map(_._3).sum) }
      .toSeq.groupBy(_._1)
    daily.foreach { case (tpe, ds) =>
      val n = ds.length.toLong
      val sx = ds.map(_._2).sum
      val sy = ds.map(_._3).sum
      val sxy = ds.map(t => t._2 * t._3).sum
      val sxx = ds.map(t => t._2 * t._2).sum
      val (gn, gnum, gden) = got(tpe)
      assert(gn == n && gnum == n * sxy - sx * sy && gden == n * sxx - sx * sx,
        s"event_type $tpe")
      assert(gden > 0, "denominator must be positive for a multi-day series")
    }
  }

  // ---- q177: sweep-line concurrency ----------------------------------

  test("q177: per-day peak equals a sequential sweep over the sorted " +
    "boundary points") {
    val got = SparkEntry.queries("q177_concurrency")(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("peak")).toMap
    val secs = graft.Tables.table(spark, sf, "events")
      .select(col("event_id"), expr("ts div 1000000000").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pts = secs.flatMap { case (eid, s) =>
      Seq((s, 1L, eid), (s + 600, -1L, eid))
    }.sortBy(identity)
    var conc = 0L
    val peaks = scala.collection.mutable.Map.empty[Long, Long]
    pts.foreach { case (t, d, _) =>
      conc += d
      val day = t / 86400
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), conc)
    }
    assert(got == peaks.toMap)
    assert(got.values.max > 1, "the stream must actually overlap")
  }

  // ---- q178: bitmap index --------------------------------------------

  test("q178: popcounts equal the direct predicate counts, per block and " +
    "in total") {
    val got = SparkEntry.queries("q178_bitmap_index")(spark, sf).collect()
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def blockOf(id: Long) = id / 63
    val byBlock = docs.groupBy(t => blockOf(t._1))
    got.foreach { r =>
      val b = r.getAs[Long]("block")
      val ds = byBlock.getOrElse(b, Array.empty[(Long, String, Long)])
      assert(r.getAs[Long]("n_en") == ds.count(_._2 == "en").toLong)
      assert(r.getAs[Long]("n_and") ==
        ds.count(t => t._2 == "en" && t._3 >= 300).toLong)
      assert(r.getAs[Long]("n_or") ==
        ds.count(t => t._2 == "en" || t._3 >= 300).toLong)
    }
    // total conjunction over the bitmap frame == corpus-wide count
    assert(got.map(_.getAs[Long]("n_and")).sum ==
      docs.count(t => t._2 == "en" && t._3 >= 300).toLong)
  }

  // ---- q179: inverted-index build ------------------------------------

  test("q179: df/cf/bounds/postings_xor equal a from-scratch index build, " +
    "and the xor detects a posting perturbation") {
    val got = SparkEntry.queries("q179_inverted_index")(spark, sf).collect()
      .map(r => r.getAs[String]("tok") ->
        (r.getAs[Long]("df"), r.getAs[Long]("cf"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"),
          r.getAs[Long]("postings_xor"))).toMap
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)))
    def hv(doc: Long, pos: Int, tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$doc:$pos:$tok".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(7).map("%02x".format(_)).mkString.take(13), 16)
    }
    val postings = docs.flatMap { case (id, toks) =>
      toks.zipWithIndex.map { case (t, i) => (t, id, i) }
    }
    val want = postings.groupBy(_._1).map { case (t, ps) =>
      t -> (ps.map(_._2).distinct.length.toLong, ps.length.toLong,
        ps.map(_._2).min, ps.map(_._2).max,
        ps.map(p => hv(p._2, p._3, p._1)).reduce(_ ^ _))
    }
    assert(got == want)
    // perturbation sensitivity: moving one posting by one position
    // changes the term's checksum
    val (t0, ps0) = postings.groupBy(_._1).head
    val orig = ps0.map(p => hv(p._2, p._3, p._1)).reduce(_ ^ _)
    val moved = (ps0.head.copy(_3 = ps0.head._3 + 1) +: ps0.tail)
      .map(p => hv(p._2, p._3, p._1)).reduce(_ ^ _)
    assert(orig != moved, s"xor must be position-sensitive ($t0)")
  }

  // ---- q180: temporal dimension join ---------------------------------

  test("q180: plans through the native AsOfJoinExec and matches an " +
    "explicit latest-version-in-force recompute") {
    val df = SparkEntry.queries("q180_temporal_join")(spark, sf)
    val got = df.collect().map(r => (r.getAs[String]("seg"),
      r.getAs[Int]("ver"), r.getAs[Long]("n_orders"))).toSet
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "the temporal join must run through the custom physical operator")
    // recompute: version in force = max ver with 1995+2*ver <= order year
    val facts = graft.Tables.table(spark, sf, "orders")
      .join(graft.Tables.table(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), year(col("o_orderdate"))).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val want = facts.map { case (seg, y) =>
      (seg, math.min(2, (y - 1995) / 2))
    }.groupBy(identity).map { case ((seg, ver), g) =>
      (seg, ver, g.length.toLong)
    }.toSet
    assert(got == want)
    assert(got.map(_._2).toSeq.distinct.sorted == Seq(0, 1, 2),
      "all three dim versions must be exercised")
  }

  // ---- q181: exact median --------------------------------------------

  test("q181: histogram median equals the sort-based lower median") {
    val got = SparkEntry.queries("q181_exact_median")(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("median_lo"), r.getAs[Long]("n_rows"))).toMap
    val rows = graft.Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val sorted = g.map(_._2).sorted
      val lower = sorted((sorted.length + 1) / 2 - 1)
      assert(got(flag) == (lower, sorted.length.toLong), s"flag $flag")
    }
  }

  // ---- q171: paired-modality gate ------------------------------------

  test("q171: clip_score is the cosine of the vec and its XOR-1 partner, " +
    "and every emitted row clears the threshold") {
    val rows = graft.SparkEntry.queries("q171_clip_gate")(spark, sf).collect()
    assert(rows.nonEmpty)
    val vecs = graft.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val score = r.getAs[Double]("clip_score")
      assert(score >= 0.05)
      val want = cos(vecs(v), vecs(v ^ 1L))
      assert(math.abs(score - want) < 1e-6 + 1e-9,
        s"vec $v: $score vs recomputed $want")
    }
  }
}
