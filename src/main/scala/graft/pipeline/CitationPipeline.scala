package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Parquet
import graft.sources.{MwRevZst, Revision}
import graft.wikitext.{ReferenceExtractor, WikitextNormalizer}

/** One template invocation attached to an extracted reference, with the
  * offset-disambiguation the reference computes at build_db.py:395-421:
  * `offsetStart` is the position of the idx-th `{{NormalizedName` marker
  * in the normalized reference text (F8 find_nth, with the same fallback
  * chain: full-text find → reference offset → 0).
  */
final case class StagedTemplate(
    name: String,
    offsetStart: Int,
    parameters: Seq[StagedParam])

final case class StagedParam(key: String, value: Option[String])

/** One (revision, reference) pair — the flatMap output from which all 11
  * staging tables derive (build_db.py:289-463 derivation, §3.1). A
  * revision with zero references is carried as a single marker row with
  * `rawReference == ""` so page/document rows survive in one source pass.
  */
final case class ExtractedRow(
    pageId: Int,
    namespaceId: Option[Int],
    revisionId: Long,
    parentRevisionId: Option[Long],
    revisionTimestamp: String,
    rawReference: String,
    referenceNormalized: String,
    offsetStart: Int,
    length: Int,
    referenceType: Short,
    referenceName: Option[String],
    urls: Seq[String],
    templates: Seq[StagedTemplate])

/** The extract → stage → dedup pipeline, replacing the reference's
  * build_all.py / build_db.py / dedup_parquet.py three-phase design with
  * one Spark job graph (SURVEY.md §3.1 "Spark shape").
  *
  * Scale design:
  *  - extraction is a typed `flatMap` (the Generator/UDTF analogue) —
  *    embarrassingly parallel, no shuffle; a bundle is never split
  *    across tasks;
  *  - `build` is `stage`, which materializes the extracted rows ONCE as
  *    zstd parquet, then `publish`, which derives all 11 tables from
  *    that staging set with column-pruned scans — bundles are
  *    decompressed exactly once. The streaming `ingest` runs `stage`
  *    on each micro-batch of new bundles, and its caller then runs
  *    `publish`;
  *  - sha1/parse_url run as codegen'd built-ins on the staged DataFrame,
  *    not inside the flatMap;
  *  - each table's dedup is a single hash shuffle on its natural key
  *    with map-side partial aggregation (`dropDuplicates`) — the
  *    Spark-native form of the reference's hand-rolled hash-partitioned
  *    out-of-core distinct (dedup_staged.py:306-359);
  *  - the big outputs (`citation_histories`, `citation_instances`) are
  *    written repartitioned by `page_id` so the serving joins J2/J3/J9
  *    read co-partitioned data.
  */
object CitationPipeline {

  /** Table name → dedup key columns; None = whole-row distinct
    * (dedup_parquet.py:60-219, SURVEY.md §1.3). */
  val dedupKeys: Map[String, Option[Seq[String]]] = Map(
    "containers" -> None,
    "domains" -> Some(Seq("value")),
    "documents" -> Some(Seq("has_container_label", "page_id")),
    "web_resources" -> Some(Seq("url")),
    "citation_instances" -> Some(Seq("page_id", "raw_sha1")),
    "normalized_citations" -> Some(Seq("normalized_sha1")),
    "citation_histories" -> None,
    "revisions" -> Some(Seq("revision_id")),
    "ncwr" -> None,
    "wiki_templates" -> None,
    "template_data" -> Some(Seq(
      "domain_label", "template_name", "normalized_sha1", "offset_start",
      "parameter_key")))

  /** F8 `find_nth` with the reference's exact semantics
    * (build_db.py:397-403): n forward scans starting at prev+1. */
  def findNth(haystack: String, needle: String, n: Int): Int = {
    var start = -1
    var k = 0
    while (k < n) {
      start = haystack.indexOf(needle, start + 1)
      if (start == -1) return -1
      k += 1
    }
    start
  }

  /** Extract + normalize every reference of every revision; pure
    * per-revision computation — distributes with no shuffle. With
    * `emitRefless`, a revision without references yields one marker row
    * (empty `rawReference`) so document/page derivation needs no second
    * pass over the bundles.
    */
  def extractRows(
      revs: Dataset[Revision],
      domain: String = "en.wikipedia.org",
      emitRefless: Boolean = false): Dataset[ExtractedRow] = {
    val spark = revs.sparkSession
    import spark.implicits._
    revs.flatMap { rev =>
      val refs = ReferenceExtractor
        .extract(rev.revisionText, includeOffsets = true, domain)
        .filter(_.rawReference.trim.nonEmpty) // P3 build_db.py:339-340
        .map { ref =>
          val normalized = WikitextNormalizer.normalize(ref.rawReference)
          // Offset-disambiguate templates in the NORMALIZED text
          // (build_db.py:405-421).
          val staged = ref.templates.zipWithIndex.map { case (tpl, i) =>
            val name =
              WikitextNormalizer.normalizeTemplateName(tpl.templateName)
            val marker = "{{" + name
            val byMarker = findNth(normalized, marker, i + 1)
            val offset =
              if (byMarker >= 0) byMarker
              else {
                val byFull = normalized.indexOf(tpl.fullText)
                if (byFull >= 0) byFull else math.max(ref.offsetStart, 0)
              }
            StagedTemplate(name, offset,
              tpl.parameters.map(p => StagedParam(p.key, p.value)))
          }.filter(_.name.nonEmpty)
          ExtractedRow(
            pageId = rev.pageId,
            namespaceId = rev.namespaceId,
            revisionId = rev.revisionId,
            parentRevisionId = rev.parentRevisionId,
            revisionTimestamp = rev.revisionTimestamp,
            rawReference = ref.rawReference,
            referenceNormalized = normalized,
            offsetStart = ref.offsetStart,
            length = ref.length,
            referenceType = ref.referenceType,
            referenceName = ref.referenceName,
            urls = ref.urls,
            templates = staged)
        }
      if (refs.nonEmpty || !emitRefless) refs
      else Seq(ExtractedRow(rev.pageId, rev.namespaceId, rev.revisionId,
        rev.parentRevisionId, rev.revisionTimestamp,
        rawReference = "", referenceNormalized = "", offsetStart = -1,
        length = 0, referenceType = 0, referenceName = None,
        urls = Nil, templates = Nil))
    }
  }

  private def isRef: Column = col("rawReference") =!= ""

  /** Derive the 11 staging tables (schemas per build_db.py:18-78) from
    * the extracted rows.
    *
    * URL host extraction uses `parse_url(url, 'HOST')`; unlike Python's
    * `urlparse().netloc` (build_db.py:379-385) it strips
    * `user:password@` and `:port` — pinned in PipelineSpec.
    */
  def stagingFromRows(
      ex: Dataset[ExtractedRow],
      domain: String = "en.wikipedia.org"): Map[String, DataFrame] = {
    val spark = ex.sparkSession
    import spark.implicits._

    val lang = domain.split('.').head

    val containers = Seq(domain).toDF("label")

    val exUrls = ex.filter(isRef).select(
      sha1(col("referenceNormalized")).as("normalized_sha1"),
      explode(col("urls")).as("url"))
      .filter(col("url").isNotNull && col("url") =!= "") // P4
      .withColumn("host", parse_url(col("url"), lit("HOST")))

    val domains = Seq((domain, domain)).toDF("value", "for_container_label")
      .unionByName(
        exUrls.filter(col("host").isNotNull)
          .select(col("host").as("value"),
            lit(null).cast("string").as("for_container_label")))

    val documents = ex.select(
      lit(lang).as("language_code"),
      lit(domain).as("has_container_label"),
      col("pageId").as("page_id"))

    val curidUrls = ex.select(
      concat(lit(s"https://$domain/w/index.php?curid="), col("pageId"))
        .as("url"),
      lit(domain).as("domain_label"),
      col("pageId").as("numeric_page_id"),
      col("namespaceId").as("numeric_namespace_id"),
      col("pageId").as("page_id"))

    val webResources = curidUrls.unionByName(
      exUrls.select(
        col("url"),
        col("host").as("domain_label"),
        lit(null).cast("int").as("numeric_page_id"),
        lit(null).cast("int").as("numeric_namespace_id"),
        lit(null).cast("int").as("page_id")))

    val refs = ex.filter(isRef)
      .withColumn("raw_sha1", sha1(col("rawReference")))
      .withColumn("normalized_sha1", sha1(col("referenceNormalized")))

    val citationInstances = refs.select(
      col("pageId").as("page_id"),
      col("raw_sha1"),
      col("normalized_sha1"),
      col("referenceType").as("reference_type"),
      col("referenceName").as("reference_name"))

    val normalizedCitations = refs.select(
      col("normalized_sha1"),
      col("referenceNormalized").as("reference_normalized"),
      col("pageId").as("appears_on_page_id"),
      lit(domain).as("appears_on_domain"))

    val citationHistories = refs.select(
      col("pageId").as("page_id"),
      col("raw_sha1"),
      col("revisionId").as("revision_id"))

    // Revision rows are emitted per-reference (build_db.py:365-370) — a
    // revision with zero references never reaches the revisions table.
    val revisions = refs.select(
      col("revisionId").as("revision_id"),
      col("pageId").as("page_id"),
      col("parentRevisionId").as("parent_revision_id"),
      col("revisionTimestamp").as("revision_timestamp"))

    val ncwr = exUrls.select(col("normalized_sha1"), col("url"))

    val exTemplates = refs.select(
      col("normalized_sha1"), explode(col("templates")).as("tpl"))

    val wikiTemplates = exTemplates.select(
      lit(domain).as("domain_label"),
      col("tpl.name").as("name"))

    val templateData = exTemplates.select(
      lit(domain).as("domain_label"),
      col("tpl.name").as("template_name"),
      col("normalized_sha1"),
      col("tpl.offsetStart").as("offset_start"),
      explode(col("tpl.parameters")).as("param"))
      .filter(col("param.key").isNotNull && col("param.key") =!= "")
      .select(
        col("domain_label"), col("template_name"), col("normalized_sha1"),
        col("offset_start"),
        col("param.key").as("parameter_key"),
        col("param.value").as("parameter_value"))

    Map(
      "containers" -> containers,
      "domains" -> domains,
      "documents" -> documents,
      "web_resources" -> webResources,
      "citation_instances" -> citationInstances,
      "normalized_citations" -> normalizedCitations,
      "citation_histories" -> citationHistories,
      "revisions" -> revisions,
      "ncwr" -> ncwr,
      "wiki_templates" -> wikiTemplates,
      "template_data" -> templateData)
  }

  /** A1/A2: per-table distinct — `distinct()` for whole-row tables,
    * `dropDuplicates(keys)` for keyed ones (arbitrary survivor, matching
    * DuckDB `DISTINCT ON` with no ORDER BY). */
  def dedup(tables: Map[String, DataFrame]): Map[String, DataFrame] =
    tables.map { case (name, df) =>
      name -> (dedupKeys.get(name).flatten match {
        case Some(keys) => df.dropDuplicates(keys)
        case None => df.distinct()
      })
    }

  /** Admin: drop one table's output or the whole table set (the
    * Parquet-native form of the reference's purge.py — `--table` drops
    * one, no argument drops all; "truncate" has no separate meaning for
    * immutable files). Dropping all also drops the staging set and the
    * ingest checkpoint, so the next `ingest` reads every bundle again. */
  def purge(
      spark: SparkSession, outDir: String,
      table: Option[String] = None): Unit = {
    table.foreach(t => require(dedupKeys.contains(t),
      s"unknown table '$t'; available: ${dedupKeys.keys.toSeq.sorted
        .mkString(", ")}"))
    val conf = spark.sparkContext.hadoopConfiguration
    val targets = table.map(Seq(_))
      .getOrElse(dedupKeys.keys.toSeq :+ StagedRefs :+ Checkpoint)
    targets.foreach { t =>
      if (bucketedTables(t))
        spark.sql(s"DROP TABLE IF EXISTS ${servingTableName(t)}")
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$t")
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
    }
  }

  /** The big serving tables, bucketed by `page_id`: a plain parquet
    * write carries no partitioning metadata, so even a
    * `repartition(page_id)` layout is re-shuffled on every later join.
    * Bucketed catalog tables DO carry it — J2/J3/J9 over 28.8B rows run
    * Exchange-free (BucketingSpec proves the plan; `build` now uses it
    * for real).
    *
    * Deployment note: the hot joins key on (page_id, raw_sha1) while
    * the buckets hash page_id alone (so single-page serving reads can
    * prune to ONE bucket). Serving sessions set two confs:
    * `spark.sql.requireAllClusterKeysForCoPartition=false` (Spark ≥3.3
    * only reuses subset-key bucket partitioning with it off; it is
    * semantically safe — equal page_id implies co-located
    * (page_id, raw_sha1)) and
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`
    * (the auto heuristic disables bucketed scans for filter-only
    * lookups, which also disables bucket pruning — the very win of the
    * single-page path). Both asserted in PipelineSpec. */
  val bucketedTables: Set[String] =
    Set("citation_histories", "citation_instances")

  /** Catalog name for a bucketed serving table written by `build`. */
  def servingTableName(table: String): String = s"graft_$table"

  /** Read a serving table produced by `build`: catalog (bucket-aware)
    * for the bucketed ones, plain parquet otherwise. */
  def servingTable(
      spark: SparkSession, outDir: String, table: String): DataFrame =
    if (bucketedTables(table) &&
      spark.catalog.tableExists(servingTableName(table)))
      spark.table(servingTableName(table))
    else Parquet.read(spark, s"$outDir/$table")

  /** Publish the deduped table set: bucketed catalog tables for the
    * big two, plain zstd parquet otherwise. */
  def writeTables(
      tables: Map[String, DataFrame],
      outDir: String,
      buckets: Int = 32): Unit =
    tables.foreach { case (name, df) =>
      if (bucketedTables(name))
        df.write.mode("overwrite")
          .option("compression", "zstd")
          .option("path", s"$outDir/$name")
          .bucketBy(buckets, "page_id").sortBy("page_id")
          .format("parquet")
          .saveAsTable(servingTableName(name))
      else
        df.write.mode("overwrite")
          .option("compression", "zstd")
          .parquet(s"$outDir/$name")
    }

  /** The staging set under `outDir`: every extracted row, as zstd
    * parquet. */
  val StagedRefs = "_staged_refs"

  /** Extract `revs` (refless markers included) into the staging set:
    * `SaveMode.Overwrite` for a batch build, `SaveMode.Append` for a
    * streaming micro-batch. */
  def stage(
      revs: Dataset[Revision],
      outDir: String,
      mode: SaveMode,
      domain: String = "en.wikipedia.org"): Unit =
    extractRows(revs, domain, emitRefless = true)
      .write.mode(mode).option("compression", "zstd")
      .parquet(s"$outDir/$StagedRefs")

  /** The streaming ingest's checkpoint under `outDir`. */
  private val Checkpoint = "_checkpoint"

  /** Spark's file source skips a file whose modification time is older
    * than this before the newest file it has seen (7 days by default).
    * A late bundle with an old mtime must still be ingested, so the age
    * is larger than any corpus's time span. */
  private val BundleMaxAge = "36500d"

  /** Stage every bundle under `bundleGlob` that no earlier run staged,
    * then return: Spark's file source lists the bundles and its log of
    * seen files, in `outDir/_checkpoint`, replaces the reference's
    * per-file DONE.txt markers (build_all.py:120-172), so a bundle is
    * staged once whatever its name or age. Each micro-batch appends
    * through the batch reader and `stage`; run `publish` afterwards. A
    * retried micro-batch can append its rows twice, which `publish`'s
    * dedup absorbs. The stream selects only `path`, so the file source
    * never reads a bundle's bytes. */
  def ingest(
      spark: SparkSession,
      bundleGlob: String,
      outDir: String,
      domain: String = "en.wikipedia.org"): Unit =
    spark.readStream.schema(BinaryFileFormat.schema).format("binaryFile")
      .option("pathGlobFilter", "*.mwrev.zst")
      .option("maxFileAge", BundleMaxAge)
      .load(bundleGlob).select("path")
      .writeStream
      .option("checkpointLocation", s"$outDir/$Checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch's files come from its rows: inputFiles is empty here
        val files = batch.collect().map(_.getString(0)).toSeq
        if (files.nonEmpty)
          stage(MwRevZst.read(spark, files), outDir, SaveMode.Append, domain)
      }
      .start().awaitTermination()

  /** Derive, dedup and publish the 11 tables from the whole staging
    * set; returns the deduped tables. Dedup-on-read also absorbs rows
    * a retried streaming micro-batch appended twice. */
  def publish(
      spark: SparkSession,
      outDir: String,
      domain: String = "en.wikipedia.org",
      buckets: Int = 32): Map[String, DataFrame] = {
    import spark.implicits._
    val staged = Parquet.read(spark, s"$outDir/$StagedRefs").as[ExtractedRow]
    val tables = dedup(stagingFromRows(staged, domain))
    writeTables(tables, outDir, buckets)
    tables
  }

  /** Full pipeline: bundle glob → one extraction pass materialized as
    * zstd parquet → 11 deduped tables (S2/S4/S5). `buckets` sizes the
    * page_id bucketing of the two big tables (32 here; O(thousands) on
    * a real cluster so a bucket ≈ one executor-core's worth of rows).
    */
  def build(
      spark: SparkSession,
      bundleGlob: String,
      outDir: String,
      domain: String = "en.wikipedia.org",
      buckets: Int = 32): Unit = {
    stage(MwRevZst.read(spark, bundleGlob), outDir, SaveMode.Overwrite,
      domain)
    publish(spark, outDir, domain, buckets)
  }
}
