package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame implementations of the reference's serving API
  * (openapi.yaml:17-216; api_v1.py / explorer.py traced in SURVEY.md
  * §3.2-3.3). All operate on the deduped tables from
  * `CitationPipeline`; citation instances are addressed by their natural
  * key `(page_id, raw_sha1)` (the reference keeps natural keys precisely
  * for content-addressed lookup, models.py:255-256 — no surrogate-id
  * round-trips, J11 becomes ordinary joins).
  *
  * Scale: every query filters on `page_id` / a hash key FIRST, so with
  * the pipeline's page_id-partitioned layout each runs against a pruned
  * slice; the per-page windows (W2/W4) then operate on thousands of
  * rows, not billions. The API result clamp (limit ≤ 1000,
  * api_v1.py:108) is applied by `clamp`.
  */
object CitationQueries {

  private val MaxLimit = 1000

  private def clamp(limit: Int): Int = math.min(math.max(limit, 0), MaxLimit)

  /** A6: first/last seen (timestamp and revision id) and appearance
    * count of every citation instance `(page_id, raw_sha1)` in
    * `citationHistories`. */
  private def historyStats(
      citationHistories: DataFrame, revisions: DataFrame): DataFrame =
    citationHistories
      .join(revisions.select("revision_id", "revision_timestamp"),
        "revision_id")
      .groupBy("page_id", "raw_sha1")
      .agg(
        min("revision_timestamp").as("first_seen"),
        max("revision_timestamp").as("last_seen"),
        min("revision_id").as("first_seen_revision_id"),
        max("revision_id").as("last_seen_revision_id"),
        count(lit(1)).as("appearance_count"))

  /** The distinct pages citing a normalized citation. */
  private def citingPages(
      citationInstances: DataFrame, normalizedSha1: String): DataFrame =
    citationInstances
      .filter(col("normalized_sha1") === normalizedSha1)
      .select("page_id").distinct()

  /** Every appearance (instance → history row → revision) of a
    * normalized citation, optionally on one page only. */
  private def appearances(
      citationInstances: DataFrame, citationHistories: DataFrame,
      revisions: DataFrame, normalizedSha1: String,
      pageId: Option[Int] = None): DataFrame = {
    val instances = citationInstances
      .filter(col("normalized_sha1") === normalizedSha1)
      .select("page_id", "raw_sha1")
    pageId.fold(instances)(p => instances.filter(col("page_id") === p))
      .join(citationHistories, Seq("page_id", "raw_sha1"))
      .join(revisions.select("revision_id", "revision_timestamp"),
        "revision_id")
  }

  /** A9: one row per template invocation `(template_name,
    * offset_start)` of a normalized citation, with its parameters as a
    * key-sorted map (api_v1.py:323-333 `map_from_entries` shape). */
  private def invocations(
      templateData: DataFrame, normalizedSha1: String): DataFrame =
    templateData.filter(col("normalized_sha1") === normalizedSha1)
      .groupBy("template_name", "offset_start")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("parameter_key"), col("parameter_value")))))
        .as("parameters"))

  /** Enum → label map (api_v1.py:14, F13). */
  val referenceTypeLabel: org.apache.spark.sql.Column =
    when(col("reference_type") === 1, "inline")
      .when(col("reference_type") === 2, "endnote")
      .otherwise("other")

  /** GET /article/{page_id}: document + canonical URL (J12 shape —
    * left join against the deduped per-document URL subquery). */
  def articleLookup(
      documents: DataFrame, webResources: DataFrame,
      pageId: Int): DataFrame = {
    val canonical = webResources
      .filter(col("numeric_page_id").isNotNull)
      .dropDuplicates("numeric_page_id")
      .select(col("numeric_page_id"), col("url").as("canonical_url"))
    documents.filter(col("page_id") === pageId)
      .join(broadcast(canonical),
        col("page_id") === col("numeric_page_id"), "left_outer")
      .select(col("page_id"), col("language_code"),
        col("has_container_label"), col("canonical_url"))
  }

  /** GET /article?url=…: the relational half of article resolution — a
    * curid-style URL already tracked in web_resources maps straight to
    * its page (api_v1.py article lookup; the MediaWiki-API fallback for
    * title URLs is a serving-layer concern, F12, excluded per SURVEY).
    */
  def articleByUrl(
      webResources: DataFrame, documents: DataFrame,
      url: String): DataFrame =
    webResources.filter(col("url") === url &&
      col("numeric_page_id").isNotNull)
      .select(col("numeric_page_id").as("page_id"))
      .join(documents, "page_id")
      .select("page_id", "language_code", "has_container_label")

  /** Name-only refs (`<ref name=… />`) carry no citation content; the
    * explorer suppresses them from citation lists (explorer.py:20-26,
    * P5/F11). */
  val isNameOnlyRef: org.apache.spark.sql.Column =
    col("reference_normalized").rlike("""^<ref name="[^"]*" */>$""")

  /** GET /article/{page_id}/revisions: revision timeline with per-
    * revision citation counts (A7/J4 — left join preserves zero-count
    * revisions), ordered by timestamp (O1). */
  def articleRevisions(
      revisions: DataFrame, citationHistories: DataFrame,
      pageId: Int): DataFrame = {
    val rev = revisions.filter(col("page_id") === pageId)
    val ch = citationHistories.filter(col("page_id") === pageId)
      .select(col("revision_id"), col("raw_sha1"))
    rev.join(ch, Seq("revision_id"), "left_outer")
      .groupBy("revision_id", "revision_timestamp", "parent_revision_id")
      .agg(count(col("raw_sha1")).as("citation_count"))
      .orderBy("revision_timestamp", "revision_id")
  }

  /** GET /article/{page_id}/citations — the core timeline endpoint
    * (§3.2). Citations present at `revisionId` (default: latest), with
    * first/last-seen stats (A6), `currently_visible` (W2) and
    * `removed_at` (W4/J10 — the next page revision after last_seen, if
    * the citation is absent there).
    */
  def citationsAtRevision(
      citationInstances: DataFrame,
      normalizedCitations: DataFrame,
      citationHistories: DataFrame,
      revisions: DataFrame,
      pageId: Int,
      revisionId: Option[Long] = None,
      limit: Int = 100,
      offset: Int = 0,
      suppressNameOnly: Boolean = false): DataFrame = {
    val rev = revisions.filter(col("page_id") === pageId)
      .select(col("page_id"), col("revision_id"),
        col("revision_timestamp"))
    val ch = citationHistories.filter(col("page_id") === pageId)

    // Page revision timeline, fully plan-side (no driver `.head()` — a
    // page with zero revisions yields an empty result instead of an
    // NPE, matching the reference's graceful 404, api_v1.py:167-170):
    // W4 `removed_at` is the NEXT revision after last_seen, i.e.
    // `lead(revision_id)` over the timeline — an equi join against
    // stats, not the O(citations × revisions) non-equi probe.
    val pageW = Window.partitionBy("page_id").orderBy("revision_id")
    val timeline = rev
      .withColumn("next_revision_id", lead("revision_id", 1).over(pageW))
      .withColumn("latest_rev",
        max("revision_id").over(Window.partitionBy("page_id")))

    // J9 semi join: instances present at the target revision — explicit
    // id, or the page's latest (api_v1.py:154-158) resolved in-plan.
    val present = (revisionId match {
      case Some(r) => ch.filter(col("revision_id") === r)
      case None =>
        ch.join(
          broadcast(timeline
            .filter(col("revision_id") === col("latest_rev"))
            .select(col("revision_id"))),
          Seq("revision_id"), "left_semi")
    }).select(col("page_id"), col("raw_sha1"))

    val withFlags = historyStats(ch, rev)
      .join(broadcast(timeline.select(
          col("revision_id").as("last_seen_revision_id"),
          col("next_revision_id"), col("latest_rev"))),
        Seq("last_seen_revision_id"))
      .withColumn("removed_at_revision_id", col("next_revision_id"))
      .withColumn("currently_visible",
        col("last_seen_revision_id") === col("latest_rev"))

    val joined = withFlags
      .join(present, Seq("page_id", "raw_sha1"), "left_semi")
      .join(citationInstances, Seq("page_id", "raw_sha1"))
      .join(normalizedCitations, Seq("normalized_sha1"))
    (if (suppressNameOnly) joined.filter(!isNameOnlyRef) else joined)
      .select(
        col("page_id"), col("raw_sha1"), col("normalized_sha1"),
        referenceTypeLabel.as("reference_type"),
        col("reference_name"), col("reference_normalized"),
        col("first_seen"), col("last_seen"),
        col("first_seen_revision_id"), col("last_seen_revision_id"),
        col("appearance_count"), col("currently_visible"),
        when(col("currently_visible"), lit(null).cast("long"))
          .otherwise(col("removed_at_revision_id"))
          .as("removed_at_revision_id"))
      .orderBy(col("last_seen").desc, col("raw_sha1").asc) // O2 + tiebreak
      .offset(offset)
      .limit(clamp(limit))
  }

  /** Batch analytical form of the timeline endpoint: for EVERY page,
    * the citations visible at its latest revision, with history stats —
    * no per-page driver probes, one plan over all pages (the shape a
    * 1000-executor cluster runs over the full corpus; the scalar
    * `citationsAtRevision` is the serving-path specialization). */
  def currentCitationsReport(
      citationInstances: DataFrame, normalizedCitations: DataFrame,
      citationHistories: DataFrame, revisions: DataFrame): DataFrame = {
    val latest = revisions.groupBy("page_id")
      .agg(max("revision_id").as("latest_rev"))
    historyStats(citationHistories, revisions).join(latest, "page_id")
      .filter(col("last_seen_revision_id") === col("latest_rev"))
      .join(citationInstances, Seq("page_id", "raw_sha1"))
      .join(normalizedCitations, Seq("normalized_sha1"))
      .select(col("page_id"), col("raw_sha1"),
        referenceTypeLabel.as("reference_type"),
        col("first_seen"), col("last_seen"), col("appearance_count"))
  }

  /** GET /citation/{record_sha1}: full detail for one normalized
    * citation across all articles (api_v1.py:366-440) — one nested row:
    * text, appearing articles, extracted links, per-invocation template
    * parameter maps (A9), and the cross-article appearance history. */
  def citationDetail(
      normalizedCitations: DataFrame, citationInstances: DataFrame,
      citationHistories: DataFrame, revisions: DataFrame,
      ncwr: DataFrame, templateData: DataFrame,
      normalizedSha1: String): DataFrame = {
    val nc = normalizedCitations
      .filter(col("normalized_sha1") === normalizedSha1)
      .select("normalized_sha1", "reference_normalized")

    val articles = citingPages(citationInstances, normalizedSha1)
      .agg(sort_array(collect_list("page_id")).as("appears_on_articles"))

    val links = ncwr.filter(col("normalized_sha1") === normalizedSha1)
      .select("url").distinct()
      .agg(sort_array(collect_list("url")).as("extracted_links"))

    val templates = invocations(templateData, normalizedSha1)
      .agg(collect_list(struct(
        col("offset_start"), col("template_name"), col("parameters")))
        .as("templates"))
      // structs holding maps aren't natively orderable — sort on the
      // (offset_start, template_name) fields explicitly (O4)
      .withColumn("templates", expr(
        """array_sort(templates, (l, r) ->
             CASE WHEN l.offset_start < r.offset_start THEN -1
                  WHEN l.offset_start > r.offset_start THEN 1
                  WHEN l.template_name < r.template_name THEN -1
                  WHEN l.template_name > r.template_name THEN 1
                  ELSE 0 END)"""))

    val history = appearances(citationInstances, citationHistories,
        revisions, normalizedSha1)
      .agg(sort_array(collect_list(struct(
        col("revision_timestamp"), col("revision_id"), col("page_id"))))
        .as("history"))

    nc.crossJoin(articles).crossJoin(links)
      .crossJoin(templates).crossJoin(history)
  }

  /** GET /citation/{record_sha1}/history: appearance timeline of a
    * normalized citation across articles, optionally filtered to one
    * page (api_v1.py:443-478). */
  def citationHistoryByNormalized(
      citationInstances: DataFrame, citationHistories: DataFrame,
      revisions: DataFrame, normalizedSha1: String,
      pageId: Option[Int] = None): DataFrame =
    appearances(citationInstances, citationHistories, revisions,
      normalizedSha1, pageId)
      .select("revision_id", "revision_timestamp", "page_id")
      .orderBy("revision_timestamp", "revision_id", "page_id") // O1

  /** GET /citation/{page_id}/{raw_sha1}/history: full appearance
    * timeline of one citation instance (J2 + O1). */
  def citationHistory(
      citationHistories: DataFrame, revisions: DataFrame,
      pageId: Int, rawSha1: String): DataFrame =
    citationHistories
      .filter(col("page_id") === pageId && col("raw_sha1") === rawSha1)
      .join(revisions.filter(col("page_id") === pageId), "revision_id")
      .select(col("revision_id"), col("revision_timestamp"))
      .orderBy("revision_timestamp", "revision_id")

  /** Other articles sharing a normalized citation (explorer.py:513-538
    * J12/P9: distinct pages, excluding the asking page). */
  def otherArticles(
      normalizedCitations: DataFrame, citationInstances: DataFrame,
      normalizedSha1: String, excludePageId: Option[Int] = None):
      DataFrame = {
    val base = citingPages(citationInstances, normalizedSha1)
    excludePageId.fold(base)(p => base.filter(col("page_id") =!= p))
      .orderBy("page_id") // O3
  }

  /** GET /template-report: citations invoking a template with a given
    * parameter key/value (api_v1.py:479-528: filter + join + distinct +
    * clamp). */
  def templateReport(
      templateData: DataFrame, normalizedCitations: DataFrame,
      templateName: String, parameterKey: String,
      parameterValue: Option[String], limit: Int = 100): DataFrame = {
    val td = templateData
      .filter(col("template_name") === templateName &&
        col("parameter_key") === parameterKey)
    val matched = parameterValue.fold(td)(v =>
      td.filter(col("parameter_value") === v))
    matched.select("normalized_sha1").distinct()
      .join(normalizedCitations, "normalized_sha1")
      .select(col("normalized_sha1"), col("reference_normalized"),
        col("appears_on_page_id"))
      .distinct()
      .orderBy("normalized_sha1", "appears_on_page_id")
      .limit(clamp(limit))
  }

  /** Reverse lookup: citations that cite a URL (J6 via the ncwr
    * bridge). */
  def webResourceLookup(
      ncwr: DataFrame, normalizedCitations: DataFrame,
      citationInstances: DataFrame, url: String): DataFrame =
    ncwr.filter(col("url") === url)
      .select("normalized_sha1").distinct()
      .join(normalizedCitations, "normalized_sha1")
      .join(citationInstances, Seq("normalized_sha1"))
      .select(col("normalized_sha1"), col("page_id"), col("raw_sha1"),
        referenceTypeLabel.as("reference_type"),
        col("reference_normalized"))
      .orderBy("page_id", "raw_sha1")

  /** Per-invocation template parameters pivoted to a map (A9). */
  def templateParamsMap(templateData: DataFrame,
      normalizedSha1: String): DataFrame =
    invocations(templateData, normalizedSha1)
      .orderBy("offset_start", "template_name") // O4
}
