package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Layouts

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * fingerprinting (builder-prompt north star; SURVEY.md §2.10 U9).
  *
  * Everything here is built from codegen'd `functions._` / higher-order
  * array functions — no Scala UDFs — so the whole pipeline stays inside
  * WholeStageCodegen and scales linearly with input splits (pure map
  * work, zero shuffles until the final aggregate).
  */
object TextAnalysis {

  /** Whitespace tokenizer (the docs table is single-space separated so
    * the simple split is exact). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish sub-word tokenizer: splits on whitespace AND peels
    * punctuation into its own tokens (the pre-tokenization step every
    * BPE/WordPiece pipeline applies before merges). Formulated as
    * punct-pad-then-split rather than lookaround splits because DuckDB's
    * RE2 has no lookarounds — both engines run the identical algorithm
    * (ASCII \p{Punct} == POSIX [[:punct:]]). Codegen'd, no UDF.
    * "don't stop." -> [don, ', t, stop, .] */
  def tokensSubword(text: Column): Column =
    filter(split(regexp_replace(text, """(\p{Punct})""", " $1 "), "\\s+"),
      t => length(t) > 0)

  /** Sub-word token counts per document — the token-budget accounting a
    * training pipeline runs before packing sequences. */
  def subwordStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", tokensSubword(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_subwords"),
        size(expr("filter(toks, t -> t rlike '^[\\\\p{Punct}]$')")).as("n_punct"),
        round(expr("aggregate(toks, 0D, (acc, x) -> acc + length(x)) / size(toks)"), 4)
          .as("avg_subword_len"))
      .orderBy("doc_id")

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Token statistics per document: counts, distinct counts, average
    * token length. Pure per-row map work. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        round(
          expr("aggregate(toks, 0D, (acc, x) -> acc + length(x)) / size(toks)"),
          4).as("avg_token_len"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, stopword ratio, type-token ratio, and a
    * CASE-based quality class (reference-style bucketing, F2). */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    Tables(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stopword_ratio",
        round(expr(s"size(filter(toks, x -> x IN ($stopList))) / cast(size(toks) AS double)"), 4))
      .withColumn("type_token_ratio",
        round(expr("size(array_distinct(toks)) / cast(size(toks) AS double)"), 4))
      .withColumn("quality_class",
        when(col("n_tokens") < 20, "short")
          .when(col("stopword_ratio") > 0.2, "boilerplate")
          .otherwise("ok"))
      .select("doc_id", "n_tokens", "stopword_ratio", "type_token_ratio", "quality_class")
      .orderBy("doc_id")
  }

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before release (email / phone / IPv4 here; the
    * pattern set is the pluggable part, the relational shape is the
    * operator). The synthetic corpus carries no PII, so a
    * deterministic planting step derives PII spans from doc_id FIRST —
    * in both engines identically — and the operator under test is the
    * detect/count/redact/fingerprint pass over the augmented text.
    * Output per doc: match counts per category, redacted length, and
    * an md5 fingerprint of the redacted text (so the gate pins the
    * exact redacted STRING, not just counts).
    *
    * Engine portability: patterns stay in the char-class + bounded-
    * quantifier subset that Java regex (Spark) and RE2 (DuckDB) agree
    * on — no backreferences, no lookaround, no \b. Replacement order
    * (email → phone → ip) matters only if patterns overlap; these
    * cannot (the email class breaks on '@'-less spans, placeholders
    * contain no digits).
    *
    * Scale: pure per-row map work — regex count + three chained
    * regexp_replace, all codegen'd, zero shuffles before the ordered
    * output; at 100 TB this is scan-bound and embarrassingly parallel,
    * exactly like the reference's per-row F-functions. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOn(Tables(spark, dir, "documents"))

  def piiRedactOn(docs: DataFrame): DataFrame =
    piiRedactRows(docs).orderBy("doc_id")

  /** The per-row scrub without the terminal sort — stream-safe (used
    * verbatim by streaming/StreamPii, so batch and stream CANNOT
    * drift: same planting, same patterns, same fingerprint). */
  def piiRedactRows(docs: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,6}"
    val phoneRe = "555-[0-9]{4}"
    val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val aug = docs.withColumn("aug",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit(""))))
    aug
      .withColumn("n_email", size(regexp_extract_all(col("aug"), lit(emailRe), lit(0))))
      .withColumn("n_phone", size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0))))
      .withColumn("n_ip", size(regexp_extract_all(col("aug"), lit(ipRe), lit(0))))
      .withColumn("clean",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          ipRe, "<IP>"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        length(col("clean")).as("clean_len"),
        substring(md5(col("clean")), 1, 16).as("clean_fp"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021, arXiv:2112.11446
    * Table A1), word-level: these documents carry no line/paragraph
    * structure, so the repetition family collapses to the word n-gram
    * rules. Per document:
    *  - top{2,3,4}gram_frac — character mass of the single most
    *    frequent n-gram (count × joined gram length / n_chars), ties
    *    resolved to the lexicographically largest gram so both engines
    *    pick the same winner;
    *  - dup5gram_frac — character mass of all 5-grams occurring ≥2
    *    times (count × length, overlaps counted per occurrence, so a
    *    degenerate loop document can exceed 1.0 — the filter thresholds
    *    low, the metric need not be a true fraction).
    *
    * Scale: one (doc_id, gram) shuffle per n; the gram relation is
    * never wider than (doc_id, gram, cnt) and each per-doc reduction is
    * a partial+final hash agg (all grams of a doc originate from one
    * input row, so the partial fully reduces map-side). Four small
    * aggregates left-join back to the doc spine on doc_id — at 100 TB
    * each is independently AQE-planned and the doc spine never
    * carries text.
    *
    * This four-job shape is the MEASURED winner (round-17 A/B at the
    * 100× anchor, isolated 3-rep medians): it runs 1.92 / 5.3 /
    * 32.2 s at 1×/10×/100×. Three "obvious" rewrites all lost —
    * (a) zero-shuffle in-row sorted-run fold via `aggregate`: 59.8 s
    * at 100× (interpreted lambda eval + per-gram struct/string
    * allocation beats the shuffle it saves); (b) in-row index-RLE
    * over run starts: 78.4 s (uncollapsed projections materialize
    * ~14× text mass per row between operators); (c) single-scan
    * tagged explode with ONE combined (doc_id, n, gram) exchange:
    * 4.68 s at 10× but 61.1 s at 100× — the merged exchange and a
    * 4×-larger agg hash table spill harder than four pipelined
    * smaller jobs. The second-decade ratio (6.1×) is shuffle-volume
    * memory pressure on a single host, not algorithmic growth: the
    * gram relation is linear in the text mass by construction. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def gramCounts(n: Int): DataFrame =
      docs.select(col("doc_id"),
          filter(tokens(col("text")), t => length(t) > 0).as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("gram"))
        .groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("cnt"))

    def topMass(n: Int): DataFrame =
      gramCounts(n)
        .groupBy("doc_id")
        .agg(max(struct(col("cnt"), col("gram"))).as("top"))
        .select(col("doc_id"),
          (col("top.cnt") * length(col("top.gram"))).as(s"top${n}_mass"))

    val dup5 = gramCounts(5)
      .groupBy("doc_id")
      .agg(sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))
        .otherwise(0L)).as("dup5_mass"))

    docs.select("doc_id", "n_chars")
      .join(topMass(2), Seq("doc_id"), "left")
      .join(topMass(3), Seq("doc_id"), "left")
      .join(topMass(4), Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("top2_mass"), lit(0L)) / col("n_chars"), 4).as("top2_frac"),
        round(coalesce(col("top3_mass"), lit(0L)) / col("n_chars"), 4).as("top3_frac"),
        round(coalesce(col("top4_mass"), lit(0L)) / col("n_chars"), 4).as("top4_frac"),
        round(coalesce(col("dup5_mass"), lit(0L)) / col("n_chars"), 4).as("dup5_frac"))
      .orderBy("doc_id")
  }

  def repetitionStatsQuery(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables(spark, dir, "documents"))

  /** Per-language corpus stats (lang column is ground truth; the
    * heuristic language-ID below is compared against it in tests). */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        sum(size(tokens(col("text")))).as("total_tokens"))
      .orderBy("lang")

  /** Per-language stopword profiles for the heuristic language ID.
    * Deliberately tiny/deterministic; on real corpora they'd be the
    * top-k character n-grams per language. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  /** Heuristic language ID over any (doc_id, text, lang) DataFrame:
    * score each candidate language by stopword hits (n-gram heuristic
    * family, builder north star); ties break toward the
    * lexicographically largest language code (struct max semantics).
    * Not SQL-oracle'd (heuristic); TextSpec asserts per-language
    * classification on crafted docs and en-dominance on the corpus. */
  def languageIdOn(docs: DataFrame): DataFrame = {
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      expr(s"struct(size(filter(toks, x -> x IN ($list))) AS score, '$lang' AS lang)")
    }
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("best", greatest(scored: _*))
      .select(
        col("doc_id"),
        col("best.lang").as("predicted_lang"),
        col("best.score").as("score"),
        col("lang").as("labeled_lang"))
      .orderBy("doc_id")
  }

  def languageId(spark: SparkSession, dir: String): DataFrame =
    languageIdOn(Tables(spark, dir, "documents"))

  /** DuckDB replay of [[languageIdOn]]: the "heuristic" is in fact
    * deterministic relational scoring — stopword-hit counts per
    * profile and a (score DESC, lang DESC) argmax (Spark's greatest-
    * over-structs tie semantics made explicit) — so it oracles
    * exactly. The profile table is generated from [[langProfiles]] so
    * the two sides cannot drift. */
  def langIdOracleSql: String = {
    val profileRows = langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"('$lang', [${ws.map(w => s"'$w'").mkString(", ")}])"
    }.mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS t FROM documents),
       |s AS (
       |  SELECT doc_id, labeled_lang, p.cand,
       |    CAST(len(list_filter(t, x -> list_contains(p.words, x))) AS INTEGER) AS score
       |  FROM toks CROSS JOIN (VALUES
       |    $profileRows) p(cand, words))
       |SELECT doc_id, cand AS predicted_lang, score, labeled_lang FROM (
       |  SELECT doc_id, labeled_lang, cand, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
       |  FROM s) t
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: md5 content hash (exact-dup key) plus a
    * 64-bit xxhash. A rolling-hash (Rabin-Karp over shingles) variant
    * is in Dedup.ngramShingles. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_fp"),
        xxhash64(col("text")).as("xx64_fp"))
      .orderBy("doc_id")

  /** Sequence packing — the concat-and-chunk step of an LLM training
    * pipeline: the corpus token stream (docs concatenated in doc_id
    * order) is cut into fixed `maxLen` chunks, and each doc's token
    * span maps onto the chunks it overlaps. Output: one row per
    * (doc, chunk) overlap with the doc-local token range.
    *
    * The global token offset is a corpus-wide ordered prefix sum — the
    * one aggregate that naively forces a single-partition window. This
    * is the canonical distributed two-phase scan instead: (1) range-
    * partition by doc_id and cumsum WITHIN each partition (parallel),
    * (2) collect the ≤numPartitions per-partition totals (bounded by
    * cluster size, not data), exclusive-scan them on the driver, and
    * broadcast the per-partition base offsets back. Offsets are
    * independent of where the sampled range boundaries land, so the
    * result is deterministic even though repartitionByRange samples. */
  def packSequences(docs: DataFrame, maxLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val sized = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
    // phase 1: per-partition exclusive cumsum (parallel windows)
    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sized.withColumn("local_off",
      coalesce(sum("n_tokens").over(w), lit(0L))).localCheckpoint()
    // phase 2: exclusive scan of the tiny per-partition totals
    val totals = local.groupBy("pid").agg(sum("n_tokens").as("ptotal"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .tail.zip(totals).map { case ((pid, after), (_, t)) => (pid, after - t) }
    val baseDf = spark.createDataFrame(bases.toSeq).toDF("pid", "base_off")
    local.join(broadcast(baseDf), Seq("pid"))
      .withColumn("offset", col("base_off") + col("local_off"))
      // guard the chunk-range generator: a 0-token doc at a chunk
      // boundary would make sequence(off/maxLen, (off-1)/maxLen)
      // DESCENDING (two spurious rows where the oracle's range() is
      // empty). split(text,' ') never yields 0 tokens today, but the
      // invariant belongs in the operator, not the data.
      .filter(col("n_tokens") >= 1)
      .withColumn("chunk_id", explode(sequence(
        expr(s"offset div $maxLen"),
        expr(s"(offset + n_tokens - 1) div $maxLen"))))
      .select(col("doc_id"), col("n_tokens"), col("offset"), col("chunk_id"),
        greatest(col("chunk_id") * maxLen - col("offset"), lit(0L)).as("tok_start"),
        (least((col("chunk_id") + 1) * maxLen - col("offset"), col("n_tokens"))
          - greatest(col("chunk_id") * maxLen - col("offset"), lit(0L))).as("n_tok"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Overlapping within-document chunking — the retrieval-style
    * chunker (fixed window, fixed overlap) that complements
    * `packSequences`' cross-document concat-and-chunk: chunk k of a
    * doc covers tokens [k·step, k·step + size) with step = size −
    * overlap, so every token lands in at least one chunk and
    * consecutive chunks share `overlap` tokens. Pure per-row map work
    * (sequence + explode + slice), no shuffle before the final sort —
    * the embarrassingly-parallel shape chunking should be. */
  def chunkOverlap(docs: DataFrame, size: Int = 64, overlap: Int = 16): DataFrame = {
    require(size > overlap && overlap >= 0)
    val step = size - overlap
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("k",
        explode(sequence(lit(0), floor((org.apache.spark.sql.functions.size(col("toks")) - 1) / step).cast("int"))))
      .withColumn("chunk", slice(col("toks"), col("k") * step + lit(1), lit(size)))
      .select(
        col("doc_id"), col("k").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("chunk")).as("n_chunk_tokens"),
        element_at(col("chunk"), 1).as("first_tok"),
        element_at(col("chunk"), -1).as("last_tok"))
  }

  def chunkOverlapQuery(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables(spark, dir, "documents")).orderBy("doc_id", "chunk_idx")

  /** End-to-end curation keep-list — the composed filter every
    * training-data pipeline runs before anything else: exact-dedup
    * keepers (min doc_id per `Dedup.fingerprint` group — the same
    * fingerprint expression as the batch AND streaming dedup layers)
    * intersected with the quality gate (`quality_class == "ok"`).
    * One aggregation on the fingerprint + one join on doc_id; the
    * quality side is pure map work, so the composition costs exactly
    * what the dedup alone costs. */
  def curationKeep(spark: SparkSession, dir: String): DataFrame = {
    val keepers = Tables(spark, dir, "documents")
      .groupBy(graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    qualityScores(spark, dir)
      .join(keepers, "doc_id")
      .filter(col("quality_class") === "ok")
      .select("doc_id", "n_tokens", "type_token_ratio")
      .orderBy("doc_id")
  }

  /** The end-to-end curation composition — "what actually ships to
    * training": exact-dedup keepers ∩ quality gate ([[curationKeep]]),
    * MINUS the benchmark holdout itself, MINUS every doc the
    * decontamination check flags as sharing a 13-gram with that
    * holdout. Each stage is an already-oracled operator; the manifest
    * pins their COMPOSITION (join order and filter semantics), which
    * is where real pipelines break — a keep-list computed before
    * decontamination silently ships leaked eval data.
    *
    * Scale: three relations that each reduce to doc_id keys before
    * joining — the wide text column never crosses a stage boundary. */
  def pipelineManifest(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = decontaminate(Tables(spark, dir, "documents"))
      .select("doc_id")
    curationKeep(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Deterministic training-shard plan — the WRITER side of the
    * curation pipeline: assign every manifest survivor to a shard by
    * content-free hash (md5 of the doc id under a fixed salt) and give
    * it a position inside the shard by hash order — a seed-stable
    * global permutation (training-order shuffling without `rand()`),
    * reproducible across engines, runs, and cluster sizes. A writer
    * consumes this plan directly: partitionBy(shard), write in pos
    * order.
    *
    * Scale: the per-shard position is a window over ONE shard's docs —
    * with nShards sized to the cluster (thousands at 100 TB) each
    * partition is corpus/nShards; if a single shard ever outgrows a
    * task, the packSequences two-phase prefix scan is the drop-in
    * replacement (same keyed-prefix shape). */
  /** The salted shard hash and assignment — shared verbatim by the
    * batch [[shardPlan]] and the streaming shard writer, so ingest-time
    * and plan-time shard placement cannot drift. */
  def shardHash: Column = md5(concat(lit("shard:"), col("doc_id").cast("string")))
  def shardCol(nShards: Int): Column =
    (conv(substring(shardHash, 1, 8), 16, 10).cast("long") % nShards).cast("int")

  def shardPlan(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    pipelineManifest(spark, dir).select("doc_id")
      .withColumn("hx", shardHash)
      .withColumn("shard", shardCol(nShards))
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Cross-MODALITY manifest: [[pipelineManifest]] further intersected
    * with the embedding-side semantic-dedup keepers
    * (Similarity.semanticKeep — lowest vec_id per cosine-threshold
    * component). Pins the composition where text-side and
    * embedding-side curation meet: a doc survives only if it is an
    * exact-dedup keeper, passes quality, is not holdout, shares no
    * 13-gram with the holdout, AND is its embedding component's
    * canonical representative. Each leg is independently oracled; this
    * query gates their JOIN ORDER and key identification
    * (vec_id ≡ doc_id in the testdata contract). */
  def pipelineManifestSemantic(spark: SparkSession, dir: String): DataFrame = {
    val semKept = graft.similarity.Similarity.semanticKeep(spark, dir)
      .filter(col("is_kept"))
      .select(col("vec_id").as("doc_id"))
    pipelineManifest(spark, dir).join(semKept, Seq("doc_id")).orderBy("doc_id")
  }

  /** PRODUCTION sibling of [[pipelineManifestSemantic]] (round-12
    * VERDICT item 1a): the same cross-modality composition with the
    * semantic leg routed through the constant-occupancy cells rung
    * (Similarity.semanticKeepCellsOn — linear pair work) instead of
    * the exact O(n²) audit rung. Rows-only at the gate (the cells
    * resolution floats with the corpus); TextSpec pins the
    * keep-superset contract: because approximate edges ⊆ exact edges,
    * every doc the exact manifest keeps survives here too — the
    * approximate manifest can only ever keep MORE near-dups, never
    * drop a canonical representative. */
  def pipelineManifestSemanticLsh(spark: SparkSession, dir: String): DataFrame = {
    val semKept = graft.similarity.Similarity.semanticKeepCellsOn(
        graft.similarity.Similarity.corpus(spark, dir))
      .filter(col("is_kept"))
      .select(col("vec_id").as("doc_id"))
    pipelineManifest(spark, dir).join(semKept, Seq("doc_id")).orderBy("doc_id")
  }

  /** Per-source corpus DATA CARD — the accounting table a dataset
    * release ships: for every provenance source, document and token
    * counts, PII span totals (from the scrub), quality-gate pass
    * count, exact-duplicate count (docs that are not their own
    * fingerprint keeper), and how many documents actually survive the
    * full curation manifest. Every column composes an already-oracled
    * family, so this query gates the per-source GROUPING of all of
    * them at once; all outputs are integers — nothing float ever
    * reaches the gate.
    *
    * Scale: each leg reduces to (doc_id, small ints) before the
    * source join; the wide text column is consumed independently
    * inside each leg exactly as its standalone query does. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    val pii = piiRedact(spark, dir)
      .select(col("doc_id"),
        (col("n_email") + col("n_phone") + col("n_ip")).cast("long").as("n_pii"))
    val quality = qualityScores(spark, dir)
      .select(col("doc_id"),
        when(col("quality_class") === "ok", 1L).otherwise(0L).as("q_ok"))
    val keepers = docs
      .groupBy(graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keeper_id"))
    val dupFlag = docs
      .select(col("doc_id"), graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      .join(keepers, "fp")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keeper_id"), 1L).otherwise(0L).as("is_dup"))
    val kept = pipelineManifest(spark, dir)
      .select(col("doc_id"), lit(1L).as("in_manifest"))
    base
      .join(pii, "doc_id")
      .join(quality, "doc_id")
      .join(dupFlag, "doc_id")
      .join(kept, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_pii").as("n_pii"),
        sum("q_ok").as("n_quality_ok"),
        sum("is_dup").as("n_exact_dup"),
        sum(coalesce(col("in_manifest"), lit(0L))).as("n_kept"))
      .orderBy("source")
  }

  /** Vocabulary build + OOV accounting: corpus token counts → top-V
    * vocabulary (count DESC, token ASC — the tie-break makes the
    * boundary deterministic) → per-document out-of-vocabulary rate.
    * The pipeline every tokenizer-training run executes before
    * committing a vocab.
    *
    * Scale: token counts shuffle once on token; the vocab is a top-V
    * limit (TakeOrdered, no global sort materialization) small enough
    * to broadcast, so the per-document membership pass is map-side. */
  def vocabOov(docs: DataFrame, vocabSize: Int = 200): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov") / col("n_tokens"), 4).as("oov_rate"))
  }

  def vocabOovQuery(spark: SparkSession, dir: String): DataFrame =
    vocabOov(Tables(spark, dir, "documents")).orderBy("doc_id")

  /** TF-IDF top-k terms per document (raw tf × ln(N/df)): the
    * keyword-extraction/near-dup-feature step. Two aggregations (tf
    * by (doc, token), df by token), a token-keyed join, and a per-doc
    * top-k window — ln on identical double inputs is engine-portable
    * (both sides are ≤1-ulp libm logs of small-integer ratios; the
    * 4-decimal round absorbs the ulp). */
  def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // materialized once: the three consumers below (score join left
    // side, the df aggregate, the corpus doc count) would otherwise
    // each re-run tokenize+explode+the (doc_id, token) shuffle — at
    // 100 TB that's the whole corpus tokenized three times
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // every doc with ≥1 token appears in tf, so the corpus count can
    // ride the checkpoint instead of re-scanning the token relation
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val byScore = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(byScore))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), round(col("score"), 4).as("tfidf"))
  }

  def tfidfTopQuery(spark: SparkSession, dir: String): DataFrame =
    tfidfTop(Tables(spark, dir, "documents")).orderBy("doc_id", "token")

  /** BM25 top-k retrieval — the standard lexical ranking function
    * (Robertson-Spärck Jones, k1/b form), scoring every other document
    * against each query document's DISTINCT token bag:
    *   score(q,d) = Σ_{t∈q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf = ln(1 + (N−df+0.5)/(df+0.5)), always positive.
    *
    * Oracle-exactness: ln follows the tfidf precedent (both engines'
    * libm agree on these inputs), but the term SUM would not — float
    * addition is order-sensitive and Spark's partial aggregation order
    * is nondeterministic, so each per-term contribution is rounded to
    * integer MICROS first and the sum runs in exact integer space
    * (associative → order-free in any engine), with ranking on the
    * integer score. The rank-on-lift discipline applied to a scoring
    * function: spend floats per term where they're deterministic, keep
    * the order-sensitive reduction in integers.
    *
    * Scale: df/dl/avgdl are corpus statistics computed once (two hash
    * aggregates and a 1-row broadcast); queries broadcast; the scoring
    * join is one shuffle on token — at 100 TB fed from the persisted
    * inverted index with postings caps, exactly like the hybrid RRF
    * sparse leg this upgrades. */
  def bm25TopK(docs: DataFrame, nQueries: Int = 5, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(filter(tokens(col("text")), t => length(t) > 0)).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpusStats = dl.agg(countDistinct(col("doc_id")).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    bm25Score(tf, dfRel, dl, corpusStats, nQueries, k, k1, b)
  }

  /** Shared BM25 scoring core over a (doc_id, token, tf) postings
    * relation plus its stats — fed either from a fresh tokenization
    * ([[bm25TopK]]) or from the persisted index tables
    * ([[bm25Served]]); identical inputs → identical output, which is
    * why the served path shares the oracle verbatim. */
  private def bm25Score(tf: DataFrame, dfRel: DataFrame, dl: DataFrame,
                        corpusStats: DataFrame, nQueries: Int, k: Int,
                        k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token")).distinct()
    val scored = tf
      .join(broadcast(q), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .join(broadcast(dfRel), "token")
      .crossJoin(broadcast(corpusStats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w_micro",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
          * lit(1e6)).cast("long"))
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("cand_id"))
    scored
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(sum(col("w_micro")).as("score_micro"))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("score_micro") / lit(1e6), 4).as("bm25"))
      .orderBy("query_id", "rank")
  }

  /** Persisted inverted-index build — the sparse-side twin of the
    * IVFADC serving layout: the postings relation (doc_id, token, tf)
    * written once, BUCKETED by token so query-term joins read only
    * matching buckets with no exchange on the index side, plus doc-
    * length, term-df, and 1-row corpus-stat side tables. Rebuild =
    * retokenize; stats are frozen with the index (the standard serving
    * contract — stale df after appends is a rebuild decision, not a
    * query-time one). */
  def bm25BuildIndex(docs: DataFrame, prefix: String): Unit = {
    val tok = docs.select(col("doc_id"),
      explode(filter(tokens(col("text")), t => length(t) > 0)).as("token"))
    // the checkpoint keeps the bucket sizing count and the termstats
    // aggregate off a re-tokenization
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    Layouts.save(tf, s"${prefix}_postings", Some("token"))
    Layouts.save(tok.groupBy("doc_id").agg(count(lit(1)).as("dl")), s"${prefix}_docstats")
    Layouts.save(tf.groupBy("token").agg(count(lit(1)).as("df")), s"${prefix}_termstats")
    Layouts.save(tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), avg(col("dl")).as("avgdl")),
      s"${prefix}_corpus")
  }

  private val bm25Tables = Seq("_postings", "_docstats", "_termstats", "_corpus")

  /** BM25 over the persisted index: queries pay the postings join and
    * scoring only — tokenization and corpus statistics are index-build
    * work, exactly like the dense leg's codebooks. Bit-identical to
    * [[bm25TopK]] (same relations, same scoring core), so the gate
    * runs it against the SAME oracle. The index name carries a content
    * fingerprint of documents.parquet, so a regenerated table under the
    * same path gets a fresh build. */
  def bm25Served(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fp = Tables.dataFingerprint(s"$dir/documents.parquet")
    val prefix = Layouts.ensure(spark, "graft_bm25", dir, s"$dir|$fp|bm25", bm25Tables) {
      bm25BuildIndex(Tables(spark, dir, "documents"), _)
    }
    bm25Score(
      spark.table(s"${prefix}_postings"),
      spark.table(s"${prefix}_termstats"),
      spark.table(s"${prefix}_docstats"),
      spark.table(s"${prefix}_corpus"),
      nQueries, k, k1, b)
  }

  def bm25TopKQuery(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(Tables(spark, dir, "documents"))

  /** Oracle SQL for [[bm25TopK]]. Constants are interpolated from the
    * SAME Scala doubles the Spark side uses (Double.toString round-trips
    * bit-exactly, and DuckDB parses float literals correctly rounded) —
    * a hand-written `2.2` literal could differ from Scala's `k1 + 1.0`
    * by one ulp and flip a micro-rounding. All SQL-side decimal
    * literals are CAST to DOUBLE because DuckDB would otherwise run
    * DECIMAL arithmetic where Spark runs double. */
  def bm25OracleSql(nQueries: Int = 5, k: Int = 5,
                    k1: Double = 1.2, b: Double = 0.75): String = {
    val k1p1 = (k1 + 1.0).toString
    val oneMinusB = (1.0 - b).toString
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, t AS token FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t
       |    FROM documents)),
       |tf AS MATERIALIZED (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |cs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
       |q AS (SELECT DISTINCT doc_id AS query_id, token FROM tf WHERE doc_id < $nQueries),
       |sc AS (
       |  SELECT q.query_id, tf.doc_id AS cand_id,
       |    CAST(round(
       |      ln(CAST(1 AS DOUBLE) + (cs.n_docs - dfr.df + CAST(0.5 AS DOUBLE)) / (dfr.df + CAST(0.5 AS DOUBLE)))
       |      * (tf.tf * CAST($k1p1 AS DOUBLE))
       |      / (tf.tf + CAST($k1 AS DOUBLE) * (CAST($oneMinusB AS DOUBLE) + CAST($b AS DOUBLE) * dl.dl / cs.avgdl))
       |      * 1e6) AS BIGINT) AS w_micro
       |  FROM tf JOIN q USING (token)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN dfr ON dfr.token = tf.token
       |  CROSS JOIN cs
       |  WHERE tf.doc_id <> q.query_id),
       |agg AS (SELECT query_id, cand_id, sum(w_micro) AS score_micro FROM sc GROUP BY 1, 2)
       |SELECT query_id, rank, cand_id, round(score_micro / 1e6, 4) AS bm25 FROM (
       |  SELECT query_id, cand_id, score_micro,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, cand_id) AS INTEGER) AS rank
       |  FROM agg) t
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def packSequencesQuery(spark: SparkSession, dir: String, maxLen: Int = 512): DataFrame =
    packSequences(Tables(spark, dir, "documents"), maxLen)

  /** BPE merge-pair vocabulary induction — the tokenizer-training
    * kernel (Sennrich's algorithm): start from words as character
    * sequences, repeatedly (1) count adjacent symbol pairs weighted by
    * word frequency, (2) pick the most frequent pair with a
    * DETERMINISTIC tie-break (count DESC, lhs ASC, rhs ASC — the
    * vocabOov rule), (3) greedily merge left-to-right non-overlapping
    * occurrences in every word. Emits the merge table
    * (merge_idx, lhs, rhs, merged, pair_count) — the artifact a BPE
    * tokenizer IS; it is exactly reproducible in SQL, so the query is
    * oracled end to end, tie-breaks, overlap rule and all.
    *
    * Scale: the corpus is scanned ONCE into the word-frequency
    * relation; everything after is vocabulary-sized (Heaps' law —
    * sublinear in corpus tokens). Each round shuffles the vocab table
    * on pair keys and pulls exactly ONE argmax row to the driver (the
    * sanctioned iterative-driver pattern: HMRF's K-row param pulls);
    * merge application is pure codegen'd HOF map work, and a per-round
    * localCheckpoint truncates the k-deep lineage. Overlap semantics:
    * pair counting counts every adjacent position (so "aaa" gives
    * (a,a) weight 2 — Sennrich's get_stats), while application merges
    * greedily left-to-right (so "aaa" -> ["aa", "a"]). */
  def bpeMerges(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var cur = words.withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))
      .select("freq", "syms")
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val best = cur
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, l, rr, l + rr, cnt))
        // greedy left-to-right merge as a codegen'd fold over
        // positions: skip consumes the right half of a just-merged
        // pair, so overlapping occurrences ("aaa") merge only once
        val n = size(col("syms"))
        cur = cur.withColumn("syms", aggregate(
            sequence(lit(1), n),
            struct(array().cast("array<string>").as("out"),
              lit(false).as("skip")),
            (acc, i) => {
              // get() is 0-based and yields null (not an ANSI error)
              // past the end, exactly what the lookahead needs
              val s = get(col("syms"), i - 1)
              val isMatch = s === lit(l) &&
                (get(col("syms"), i) <=> lit(rr))
              when(acc.getField("skip"),
                struct(acc.getField("out").as("out"), lit(false).as("skip")))
                .when(isMatch,
                  struct(concat(acc.getField("out"), array(lit(l + rr))).as("out"),
                    lit(true).as("skip")))
                .otherwise(
                  struct(concat(acc.getField("out"), array(s)).as("out"),
                    lit(false).as("skip")))
            },
            acc => acc.getField("out")))
          .localCheckpoint()
        r += 1
      }
    }
    merges.result()
      .toDF("merge_idx", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_idx")
  }

  def bpeMergesQuery(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables(spark, dir, "documents"))

  /** BPE APPLY — tokenize with a learned merge table: replay the k
    * merges IN ORDER over the per-word character sequences (the merge
    * list is a program; application order is its semantics), then
    * aggregate per-document subword statistics. This is the
    * train-then-tokenize split every real pipeline runs: `bpeMerges`
    * is the training job, this is the (much cheaper, pure-map)
    * inference job.
    *
    * Scale: the k chained merge folds run over DISTINCT words only —
    * vocabulary-sized work (Heaps' law), not corpus-sized — and the
    * per-word subword count joins back to the corpus occurrences on
    * the word key (vocab side is join-key + one int, broadcastable at
    * any realistic vocab; AQE picks the strategy). Measured: folding
    * inline over every occurrence was 15.4 s at sf0.1 — the k nested
    * HOF stages priced per occurrence — vs ~1 s via the distinct-word
    * relation; tokenize-once-join-back is also what a real tokenizer
    * service does. */
  def bpeTokenize(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val occurrences = docs.select(col("doc_id"),
      explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
    val vocab0 = occurrences.select("word").distinct()
      .withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))
    val applied = merges.foldLeft(vocab0) { case (df, (l, rr)) =>
      val n = size(col("syms"))
      df.withColumn("syms", aggregate(
        sequence(lit(1), n),
        struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
        (acc, i) => {
          val s = get(col("syms"), i - 1)
          val isMatch = s === lit(l) && (get(col("syms"), i) <=> lit(rr))
          when(acc.getField("skip"),
            struct(acc.getField("out").as("out"), lit(false).as("skip")))
            .when(isMatch,
              struct(concat(acc.getField("out"), array(lit(l + rr))).as("out"),
                lit(true).as("skip")))
            .otherwise(
              struct(concat(acc.getField("out"), array(s)).as("out"),
                lit(false).as("skip")))
        },
        acc => acc.getField("out")))
    }
    val wordLens = applied.select(col("word"), size(col("syms")).as("n_syms"))
    occurrences.join(wordLens, "word")
      .groupBy("doc_id")
      .agg(
        sum(col("n_syms")).as("n_bpe_tokens"),
        count(lit(1)).as("n_words"),
        round(sum(col("n_syms")) / count(lit(1)).cast("double"), 4)
          .as("tokens_per_word"))
  }

  /** Per-document sliding token n-grams as md5 fingerprints:
    * (doc_id, widx, fp) — one row per window position. The shared
    * candidate relation under exact-substring dedup and eval-set
    * decontamination; pure map work (sequence + slice + hash), no
    * shuffle. */
  private def ngramFingerprints(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"),
        filter(tokens(col("text")), t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - (w - 1)),
          i => struct(i.as("widx"),
            md5(concat_ws(" ", slice(col("toks"), i, lit(w)))).as("fp")))).as("g"))
      .select(col("doc_id"), col("g.widx"), col("g.fp"))

  /** Exact substring dedup (the Lee-et-al. training-data move,
    * window-granular): a token window is DUPLICATED when the same
    * w-gram appears in more than one document; per document, report
    * how much of it is made of cross-document duplicated spans. High
    * dup_rate = boilerplate/mirrored text that survives doc-level
    * near-dup because the surrounding page differs.
    *
    * Scale: one shuffle on the w-gram fingerprint (16-byte md5, never
    * the text); the duplicated-gram relation carries fp only and
    * semi-joins back — O(windows) end to end, all narrow columns. */
  def substringDup(docs: DataFrame, w: Int = 20): DataFrame = {
    // Round-19 single-pass shape (guide §2.3/§2.4): the old plan read
    // the gram relation TWICE — once for the duplicated-fp aggregate,
    // once for the join back — so the corpus explode+md5 (the
    // dominant per-row cost) ran twice per query. One (doc_id, fp)
    // pre-aggregate feeds both: rows-per-fp of the aggregated
    // relation IS countDistinct(doc_id) (the group key contains
    // doc_id), a window over fp marks duplicated grams on the
    // aggregated (small) relation, and the per-doc rollup sums the
    // carried multiplicities — identical output, one gram scan, one
    // gram-scale shuffle instead of two.
    val g1 = ngramFingerprints(docs, w)
      .groupBy("doc_id", "fp").agg(count(lit(1)).as("m"))
    g1.withColumn("nd", count(lit(1)).over(Window.partitionBy("fp")))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_windows"),
        sum(when(col("nd") > 1, col("m")).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_rate",
        round(col("n_dup_windows") / col("n_windows").cast("double"), 4))
      .orderBy("doc_id")
  }

  def substringDupQuery(spark: SparkSession, dir: String): DataFrame =
    substringDup(Tables(spark, dir, "documents"))

  /** Per-source boilerplate detection — the template-removal stage
    * (C4/RefinedWeb run it on lines; these documents are word
    * streams, so the unit is the token w-gram): a gram is BOILERPLATE
    * for a source when it appears in at least `1/denom` of that
    * source's gram-bearing docs (same-site headers/footers/navigation
    * recur across a source's pages; cross-source text does not). Per
    * doc, report the fraction of its grams that are source
    * boilerplate — high ratio = template shell, a drop/strip signal
    * [[substringDup]] cannot give (it flags ANY cross-doc duplication,
    * with no document-frequency floor).
    *
    * Engine stability: the frequency floor is INTEGER arithmetic
    * (denom·df ≥ n_docs — no float threshold to flip), fingerprints
    * are md5 hex, ratios round to 4.
    *
    * Scale: one shuffle on (source, fp) — 16-byte fingerprints, never
    * text; the boilerplate relation (grams above a per-source
    * document-frequency floor) is a small fraction of the distinct
    * grams and joins back by equality. O(windows) end to end.
    * Round-17 trims: (a) the per-source doc count comes from the DOC
    * SPINE (one row per doc — "has ≥1 gram" ≡ "has ≥ w tokens"), not
    * a second distinct pass over the gram-scale docFp relation;
    * (b) per-doc totals are IN-ROW (n_grams = n_tokens − w + 1) and
    * the boilerplate hits come from a LEFT-SEMI join, so the final
    * aggregate runs over the (small) boilerplate occurrence mass
    * instead of null-padding and re-counting every gram of the
    * corpus. */
  def boilerplate(docs: DataFrame, w: Int = 8, denom: Int = 5): DataFrame = {
    // gram identity is an 8-byte xxhash64, not the md5 hex
    // ngramFingerprints ships (this operator never exposes the fp, so
    // the narrower non-portable hash is free); source rides the
    // explode directly instead of joining back by doc_id
    val grams = docs
      .select(col("doc_id"), col("source"),
        filter(tokens(col("text")), t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("toks")) - (w - 1)),
          i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(w)))))).as("fp"))
    val docFp = grams.select("source", "fp", "doc_id").distinct()
    val srcSizes = docs
      .filter(size(filter(tokens(col("text")), t => length(t) > 0)) >= w)
      .groupBy("source").agg(count(lit(1)).as("n_docs_src"))
    val boiler = docFp.groupBy("source", "fp")
      .agg(count(lit(1)).as("df"))
      .join(broadcast(srcSizes), "source")
      .filter(col("df") * denom >= col("n_docs_src"))
      .select("source", "fp")
    val hits = grams
      .join(boiler, Seq("source", "fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    docs
      .select(col("doc_id"), col("source"),
        (size(filter(tokens(col("text")), t => length(t) > 0)) - (w - 1))
          .cast("long").as("n_grams"))
      .filter(col("n_grams") >= 1)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler") / col("n_grams").cast("double"), 4))
      .orderBy("doc_id")
  }

  def boilerplateQuery(spark: SparkSession, dir: String): DataFrame =
    boilerplate(Tables(spark, dir, "documents"))

  /** Eval-set decontamination: flag corpus documents sharing any
    * w-gram (w=13, the common contamination window) with a benchmark
    * holdout. The stand-in eval set is every `benchEvery`-th doc
    * (doc_id ≡ 0 mod benchEvery) — a simulated leak: the corpus
    * contains exact/near duplicates of some holdout docs, so the
    * check demonstrably FIRES (empty results validate nothing).
    * Emits one row per CONTAMINATED corpus doc with its hit count;
    * clean docs are absent (the keep-list is the complement).
    *
    * Scale: the benchmark gram relation is eval-set-sized — tiny
    * against any training corpus — so the contamination check is a
    * broadcast semi-ish join against distinct benchmark fingerprints;
    * the corpus side stays one map + one aggregate. */
  def decontaminate(docs: DataFrame, w: Int = 13, benchEvery: Int = 10): DataFrame = {
    // Round-19 single-pass shape (the substringDup move): one gram
    // scan — a window over fp marks training rows that share a
    // fingerprint with ANY benchmark row (join-with-distinct kept
    // training-row multiplicity, so the window counts the same rows).
    // Round-20 de-skew (guide §2.5 two-level aggregation): the window
    // first ran on the RAW gram relation, so one hot fingerprint (a
    // boilerplate 13-gram across millions of docs) became ONE
    // WindowExec group buffered in a single task. A (fp, doc_id)
    // pre-aggregate — doc_id acting as the natural salt — now feeds
    // the window: the partial aggregate collapses per-doc repeats
    // map-side, its exchange hashes on (fp, doc_id) so no partition is
    // hot, and the window group is bounded at n_docs-per-fp (the
    // substringDup recipe). n_hits = Σ per-pair multiplicities =
    // exactly the old per-row count; hash-identical.
    val pairs = ngramFingerprints(docs, w)
      .groupBy("fp", "doc_id").agg(count(lit(1)).as("m"))
      .withColumn("bench", (pmod(col("doc_id"), lit(benchEvery)) === 0).cast("int"))
    pairs
      .withColumn("has_bench", max(col("bench")).over(Window.partitionBy("fp")))
      .filter(col("bench") === 0 && col("has_bench") === 1)
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_hits"))
      .orderBy("doc_id")
  }

  def decontaminateQuery(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables(spark, dir, "documents"))

  /** Span-level contamination MASKING — the surgical refinement of
    * [[decontaminate]]: instead of dropping every contaminated
    * document whole, emit the exact token spans that overlap the
    * benchmark so the pipeline can mask (zero-loss-weight) just those
    * tokens and keep the rest of the document. Each benchmark-hit
    * window [widx, widx+w−1] is an interval; overlapping or adjacent
    * intervals merge into maximal spans by gaps-and-islands (running
    * max of prior ends over the per-doc widx order — a new island
    * starts where widx jumps past prev_end + 1). One row per masked
    * span: (doc_id, span_start, span_end, span_tokens), 1-based
    * inclusive token positions.
    *
    * Scale: identical join shape to decontaminate (benchmark grams
    * are eval-set-sized and broadcast); the islands pass adds one
    * (doc_id)-partitioned window over the HIT rows only — hits are
    * contamination-sized, not corpus-sized. */
  def maskContamination(docs: DataFrame, w: Int = 13, benchEvery: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round-19: same single-pass reshape as [[decontaminate]] — one
    // gram scan with a max-over-fp window instead of the two-scan
    // distinct-side + join. Round-20 de-skew (see decontaminate): the
    // window rides a (fp, doc_id) pre-aggregate so a hot fingerprint
    // cannot buffer one giant WindowExec group; widx positions are
    // carried as a per-pair list (bounded by the DOC's gram count,
    // never by the fingerprint's corpus frequency) and exploded back
    // after the filter — widx is unique per doc, so the exploded row
    // set is exactly the old per-row hit set.
    val pairs = ngramFingerprints(docs, w)
      .groupBy("fp", "doc_id").agg(collect_list(col("widx")).as("ws"))
      .withColumn("bench", (pmod(col("doc_id"), lit(benchEvery)) === 0).cast("int"))
    val hits = pairs
      .withColumn("has_bench", max(col("bench")).over(Window.partitionBy("fp")))
      .filter(col("bench") === 0 && col("has_bench") === 1)
      .select(col("doc_id"), explode(col("ws")).as("widx"))
      .select(col("doc_id"), col("widx"), (col("widx") + lit(w - 1)).as("wend"))
    val byDoc = Window.partitionBy("doc_id").orderBy("widx")
    val prevEnd = max(col("wend")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_island",
        when(col("widx") > coalesce(prevEnd, lit(Int.MinValue)) + 1, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("widx")).as("span_start"), max(col("wend")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  def maskContaminationQuery(spark: SparkSession, dir: String): DataFrame =
    maskContamination(Tables(spark, dir, "documents"))

  /** Bloom-pre-filtered decontamination — same semantics as
    * [[decontaminate]] (exact same output, same oracle), different
    * scale shape. The exact path streams EVERY corpus w-gram through
    * the probe side of the bench join; at 100 TB that is trillions of
    * 32-byte md5 strings probing a multi-hundred-MB broadcast hash
    * relation. Here a Bloom filter built over the benchmark
    * fingerprints (`DataFrameStatFunctions.bloomFilter`, a distributed
    * treeAggregate; ~1.2 MB per million grams at 1% fpp — two orders
    * smaller than the hash relation it stands in for) is broadcast and
    * applied as a pre-filter, so ~(1 − fpp) of clean grams die before
    * any join machinery. Survivors (true hits + fpp false positives)
    * are then exact-verified against the real bench relation, which
    * removes every false positive: Bloom guarantees no false
    * NEGATIVES, so pre-filter + exact verify ≡ exact semi-join,
    * bit for bit. This is Spark's own runtime-filter pattern
    * (InjectRuntimeFilter) made explicit and user-controllable.
    *
    * Driver-side pulls: one scalar count (to size the filter) and the
    * filter bits themselves — both eval-set-bounded, never
    * corpus-bounded. The probe is a Scala UDF by necessity (bit-array
    * membership is not expressible in codegen'd column functions); it
    * sits on the narrow fp column only. */
  def decontaminateBloom(docs: DataFrame, w: Int = 13, benchEvery: Int = 10,
                         fpp: Double = 0.01): DataFrame = {
    val grams = ngramFingerprints(docs, w)
    val benchFps = grams.filter(pmod(col("doc_id"), lit(benchEvery)) === 0)
      .select("fp").distinct()
    val corpusGrams = grams.filter(pmod(col("doc_id"), lit(benchEvery)) =!= 0)
    val nBench = math.max(benchFps.count(), 1L)
    val bloom = benchFps.stat.bloomFilter("fp", nBench, fpp)
    val bloomBc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => bloomBc.value.mightContainString(fp))
    corpusGrams
      .filter(mightContain(col("fp")))
      .join(benchFps, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  def decontaminateBloomQuery(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloom(Tables(spark, dir, "documents"))

  /** Train-then-tokenize composition on one corpus: learn k merges,
    * apply them, report per-doc subword counts. */
  def bpeTokenizeQuery(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val merges = bpeMerges(docs, k).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeTokenize(docs, merges).orderBy("doc_id")
  }

  /** Collocation mining: top-k adjacent bigrams by pointwise mutual
    * information. PMI = ln(lift); since ln is monotone the RANKING by
    * the lift ratio (c12·U²)/(B·c1·c2) is identical, and lift — unlike
    * ln, which is libm and 1-ulp engine-dependent (the F5 lesson) — is
    * one exactly-rounded IEEE division of two exact integers, so it is
    * bit-identical in Spark and DuckDB and safe to hash-compare AND to
    * rank on.
    *
    * Scale design: bigrams come from a per-row zip of the token array
    * with itself shifted by one (pure map work inside codegen — no
    * positional self-join, which would shuffle the corpus on (doc,
    * pos)); uni/bigram counts are two hash aggregations; the corpus
    * totals U and B broadcast as 1-row literals via crossJoin. Counts
    * stay BIGINT; the lift PRODUCTS are computed in the double domain
    * (each factor cast before multiplying): below 2^53 — every gate
    * scale — IEEE doubles represent the integer products exactly, so
    * the value is bit-identical to the oracle's integer-then-cast
    * form, and beyond 2^53 the double product rounds instead of
    * THROWING the way an ANSI BIGINT product does (the 100× corpus
    * crossed 2^63 in round 12: U ≈ 6e8 made c12·U² ≈ 1e23). Ordering
    * at 1-ulp past 2^53 falls back to the (w1, w2) tie-break, which
    * both engines share. */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bi = toks.select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uniCnt = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val biCnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val totals = uniCnt.agg(sum(col("c")).as("u"))
      .crossJoin(biCnt.agg(sum(col("c12")).as("btot")))
    biCnt.filter(col("c12") >= minCount)
      .join(uniCnt.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uniCnt.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(totals)
      .withColumn("lift",
        (col("c12").cast("double") * col("u").cast("double") * col("u").cast("double")) /
          (col("btot").cast("double") * col("c1").cast("double") * col("c2").cast("double")))
      // top-k FIRST (TakeOrderedAndProject — distributed heap select,
      // no global sort), then rank the k survivors: the previous
      // row_number-then-filter shape funneled EVERY qualifying bigram
      // through one single-partition window task
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))))
      .select(col("rk"), col("w1"), col("w2"), col("c12"),
        round(col("lift"), 4).as("lift"))
      .orderBy("rk")
  }

  def pmiBigramsQuery(spark: SparkSession, dir: String): DataFrame =
    pmiBigrams(Tables(spark, dir, "documents"))

  /** Bigram language-model perplexity scoring — the perplexity-based
    * quality filter every LLM pretraining pipeline runs (CCNet/Gopher
    * style: train a small LM on the corpus, drop documents whose
    * perplexity is anomalous). Train and score are the same two hash
    * aggregations as `pmiBigrams` plus one join back onto the per-doc
    * bigram instances:
    *   p(w2|w1) = (c12 + α) / (c1 + α·V)    (add-α smoothing, α = 0.5)
    *   nll(doc) = avg over its bigrams of −ln p,  ppl = exp(nll)
    *
    * Numeric portability (the F5/PMI lesson applied): −ln p is
    * rewritten as ln((c1 + αV)/(c12 + α)) — ONE libm log per bigram of
    * an exactly-computed double ratio of small exact values, so both
    * engines take logs of bit-identical inputs; per-doc sums are ~30
    * terms of magnitude ≤ ~10, keeping accumulated addition-order error
    * ~1e-13 — far inside the 4-decimal round. exp is applied to the
    * already-rounded nll so the ppl column is a deterministic function
    * of a hash-stable value.
    *
    * Scale design: model "training" is two hash aggregations (bigram +
    * unigram counts) over one corpus pass; V is a 1-row broadcast.
    * Scoring joins the per-doc bigram instances to the model on the
    * bigram key — the model relation is vocab²-bounded (in practice
    * ~corpus-token-distinct², far smaller than the corpus), and the
    * instance side carries only (doc_id, w1, w2), never text. No UDFs;
    * everything stays in WholeStageCodegen. */
  def lmPerplexity(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val inst = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uniCnt = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val biCnt = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = uniCnt.agg(count(lit(1)).as("v"))
    inst
      .join(biCnt, Seq("w1", "w2"))
      .join(uniCnt.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll_term",
        log((col("c1") + lit(alpha) * col("v")).cast("double") /
          (col("c12") + lit(alpha)).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll_term")), 4).as("nll"))
      .select(col("doc_id"), col("n_bigrams"), col("nll"),
        round(exp(col("nll")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  def lmPerplexityQuery(spark: SparkSession, dir: String): DataFrame =
    lmPerplexity(Tables(spark, dir, "documents"))

  /** Per-document unigram entropy (nats) — the lexical-diversity
    * quality signal complementing [[lmPerplexity]]'s fluency signal
    * (boilerplate and keyword-stuffed spam score low; −Σ p·ln p over
    * the doc's own token distribution). Rewritten as
    * ln(n) − (Σ c·ln c)/n so each term is one libm log of an exact
    * small integer — both engines take logs of identical inputs, and
    * the per-doc sum is ≤ #distinct-tokens terms against a 4-decimal
    * round (the lmPerplexity portability argument). Pure explode +
    * two hash aggregations; no windows, no joins wider than doc_id. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(
          log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"),
          4).as("entropy"))
      .orderBy("doc_id")

  def tokenEntropyQuery(spark: SparkSession, dir: String): DataFrame =
    tokenEntropy(Tables(spark, dir, "documents"))

  /** Inverted index build — the search-engine layout (token → document
    * frequency, total term frequency, and the head of the sorted
    * posting list). Postings are materialized DETERMINISTICALLY:
    * sort_array over the collected doc ids, never collect_list
    * arrival order, and emitted as a joined string (engine-portable
    * value, and the layout a serving system ships anyway). Two hash
    * aggregations; per-token state is bounded by the posting cap. At
    * full scale the uncapped index is written bucketed by token
    * (Layouts.save) instead of capped — this query is the per-token
    * summary + head view of that relation. */
  def invertedIndex(docs: DataFrame, cap: Int = 10): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("token")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("tf_total"),
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, cap), ",")
          .as("postings_head"))
      .orderBy("token")

  def invertedIndexQuery(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables(spark, dir, "documents"))

  /** Curation decision matrix — the capstone that composes the
    * pipeline's quality signals into an auditable keep/drop with
    * REASONS (what a data-curation run actually ships): perplexity
    * (fluency, [[lmPerplexity]]) must sit at or below its corpus p90
    * and entropy (diversity, [[tokenEntropy]]) at or above its corpus
    * p10; the reason column names every failed gate. Thresholds are
    * corpus-derived percentiles over the already-rounded scores (the
    * established percentile↔quantile_cont parity), broadcast as one
    * row. Both signal relations are id-keyed aggregates of one corpus
    * scan each; the decision join carries only (doc_id, two doubles). */
  def curationScore(docs: DataFrame): DataFrame = {
    val ppl = lmPerplexity(docs).select(col("doc_id"), col("ppl"))
    val ent = tokenEntropy(docs).select(col("doc_id"), col("entropy"))
    val scored = ppl.join(ent, "doc_id")
    val thresholds = scored.agg(
      expr("percentile(ppl, 0.9)").as("ppl_hi"),
      expr("percentile(entropy, 0.1)").as("ent_lo"))
    scored.crossJoin(broadcast(thresholds))
      .select(
        col("doc_id"), col("ppl"), col("entropy"),
        round(col("ppl_hi"), 4).as("ppl_hi"),
        round(col("ent_lo"), 4).as("ent_lo"),
        (col("ppl") <= col("ppl_hi") && col("entropy") >= col("ent_lo"))
          .cast("int").as("keep"),
        when(col("ppl") <= col("ppl_hi") && col("entropy") >= col("ent_lo"), "ok")
          .otherwise(concat_ws("+",
            when(col("ppl") > col("ppl_hi"), lit("ppl_high")),
            when(col("entropy") < col("ent_lo"), lit("entropy_low"))))
          .as("reason"))
      .orderBy("doc_id")
  }

  def curationScoreQuery(spark: SparkSession, dir: String): DataFrame =
    curationScore(Tables(spark, dir, "documents"))

  /** CCNet-style perplexity buckets (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3: split each language's corpus into
    * head/middle/tail by LM perplexity terciles): per-language tercile
    * thresholds over the ROUNDED per-doc ppl (the established
    * percentile↔quantile_cont parity), bucket = head (ppl ≤ t1),
    * middle (≤ t2), tail. The standard quality stratification before
    * mixture construction — head upsampled, tail dropped or
    * down-weighted.
    *
    * Scale: thresholds are a per-language aggregate (a config-sized
    * relation, broadcast); the bucket decision is a scan-side map over
    * the already-computed ppl relation. The fraction literals are
    * cast-divided doubles so both engines interpolate from the
    * identical IEEE fraction. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val ppl = lmPerplexity(docs).select(col("doc_id"), col("ppl"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val th = ppl.groupBy("lang").agg(
      expr("percentile(ppl, cast(1.0 as double)/cast(3.0 as double))").as("t1"),
      expr("percentile(ppl, cast(2.0 as double)/cast(3.0 as double))").as("t2"))
    ppl.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("ppl"),
        round(col("t1"), 4).as("t1"), round(col("t2"), 4).as("t2"),
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Feature hashing (the "hashing trick"): each document becomes a
    * sparse term-frequency vector in a fixed `dim`-bucket space, with
    * the bucket = the first 8 md5 hex digits of the token mod dim —
    * engine-portable (md5 is bit-identical everywhere), unlike
    * Murmur-based hashingTF whose seed/implementation is
    * engine-specific. Output is the exploded sparse form (doc_id,
    * bucket, tf) — the join-friendly layout for downstream dot
    * products; pure map + one hash aggregation, no shuffle wider than
    * the output itself. Collisions are the technique's documented
    * trade (dim=256 over a ~2.5k-word vocab ⇒ ~10 words/bucket). */
  def featureHash(docs: DataFrame, dim: Int = 256): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "bucket")

  def featureHashQuery(spark: SparkSession, dir: String): DataFrame =
    featureHash(Tables(spark, dir, "documents"))

  /** Per-source Welch t-test — does a source's document-length
    * distribution differ from the rest of the corpus? (The per-source
    * anomaly screen a data card review runs; beside chi²/KS/PSI this
    * completes the testing battery with a mean-difference test.)
    * Sufficient statistics (n, Σx, Σx²) are EXACT integer sums over
    * n_chars, and the complement group's stats are the corpus totals
    * minus the source's — one aggregate over the scan, no second
    * pass, no float summation anywhere before the closed-form t/df
    * arithmetic (pointwise doubles, identical across engines).
    * Significance at the two-sided normal 1.96 (Welch df is large
    * here; the df column lets a reader apply an exact t quantile). */
  def sourceTTest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("source"), col("n_chars"))
    val per = d.groupBy("source").agg(
      count(lit(1)).as("n"), sum("n_chars").as("sx"),
      sum(col("n_chars") * col("n_chars")).as("sxx"))
    val tot = per.agg(sum("n").as("tn"), sum("sx").as("tsx"), sum("sxx").as("tsxx"))
    val j = per.crossJoin(broadcast(tot))
      .withColumn("nb", col("tn") - col("n"))
      .withColumn("sxb", col("tsx") - col("sx"))
      .withColumn("sxxb", col("tsxx") - col("sxx"))
      .filter(col("n") >= 2 && col("nb") >= 2)
    def mean(sx: Column, n: Column): Column = sx.cast("double") / n
    def variance(sxx: Column, sx: Column, n: Column): Column =
      (sxx.cast("double") - sx.cast("double") * sx.cast("double") / n) / (n - lit(1))
    val (ma, mb) = (mean(col("sx"), col("n")), mean(col("sxb"), col("nb")))
    val va = variance(col("sxx"), col("sx"), col("n"))
    val vb = variance(col("sxxb"), col("sxb"), col("nb"))
    val (sea, seb) = (va / col("n"), vb / col("nb"))
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (col("n") - lit(1)) + seb * seb / (col("nb") - lit(1)))
    j.select(col("source"), col("n"),
        round(ma, 2).as("mean_chars"), round(mb, 2).as("mean_rest"),
        round(t, 4).as("t"), round(df, 2).as("df"),
        (abs(t) > lit(1.96)).cast("int").as("sig"))
      .orderBy("source")
  }

  /** Distributed logistic-regression quality classifier — the
    * fastText-style filter the GPT-3/LLaMA pipelines train to separate
    * curated from crawled text (Brown et al. 2020, arXiv:2005.14165
    * Appendix A), here over the hashed-unigram features of
    * [[featureHash]] with the curation quality gate (length +
    * stopword-ratio, the manifest's `kept` predicate) as the positive
    * class — the label a real quality filter distills, and one with
    * LEXICAL signal in this corpus (the synthetic lang column shares
    * one vocabulary across languages, so a language label would have
    * nothing for a bag-of-words model to learn).
    * `steps` full-batch gradient steps, each expressed as relational
    * algebra: score join → sigmoid → per-doc gradient → per-bucket
    * gradient sum → weight update. lr = 1/4 sits inside the stable
    * region measured for this feature scale (1/2 oscillates — the
    * divergence was observed, not guessed); like production quality
    * filters the output is used as a RANKING (AUC ≈ 0.99 on both test
    * scales) with the keep-threshold chosen downstream, so the spec
    * pins AUC and probability separation, not the 0.5 cut.
    *
    * THE TRAINING ITSELF IS ON THE HASH GATE: per-doc gradients round
    * to integer micros BEFORE the bucket sum (the BM25 move — the only
    * float → int boundary), so every weight is an exact BIGINT
    * reachable by integer adds and truncating division, and the oracle
    * unrolls the steps as CTEs and reproduces the weights bit-for-bit
    * (Spark `div` and DuckDB `//` both truncate toward zero —
    * verified; sigmoid enters only via the per-doc rounding, the same
    * 1-ulp-libm exposure as the oracled LM perplexity). Output is the
    * final per-doc relation: raw score, probability, prediction.
    *
    * Scale: per step, one broadcast join of the dim-row weight table
    * into the tf relation + two bounded aggregates (per-doc, then
    * per-bucket — dim rows). Full-batch GD over a 100 TB corpus is
    * `steps` scans — the real pipelines do exactly this few-epoch
    * pass with a frozen feature hash. Weight state is dim longs.
    * (At extreme corpus sizes the per-bucket gradient sum approaches
    * BIGINT range — the documented decimal-upgrade point.)
    *
    * NOTE (ADVICE r19): the label relation is eagerly
    * localCheckpoint'ed at construction time — building or explaining
    * this query runs that materialization job. */
  def logregScores(spark: SparkSession, dir: String, dim: Int = 256,
                   steps: Int = 6, lrNum: Long = 1L, lrDen: Long = 4L): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    val y = docs.withColumn("toks", tokens(col("text")))
      .withColumn("nt", size(col("toks")))
      .withColumn("sr", round(
        expr(s"size(filter(toks, x -> x IN ($stopList))) / cast(size(toks) AS double)"), 4))
      .select(col("doc_id"),
        when(col("nt") >= 20 && col("sr") <= 0.2, 1).otherwise(0).as("y"))
      // round-19: y is read by every gradient step's score join AND
      // the final scoring pass (steps+1 consumers) — without the
      // checkpoint each one re-scans and re-tokenizes the text table.
      // Narrow (doc_id, y) rows; the label pass runs once.
      .localCheckpoint()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // inverse-class-frequency gradient weights (the standard imbalance
    // correction — the positive "curated" class is always the minority
    // in a quality filter): ONE bounded-pull scalar action over the
    // checkpointed labels (was two full label-pass actions), folded
    // into the per-doc gradient BEFORE its integerization
    val cnts = y.agg(count(lit(1)), sum(col("y").cast("long"))).head()
    val n = cnts.getLong(0)
    val nPos = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    val balPos = n.toDouble / (2.0 * nPos.toDouble)
    val balNeg = n.toDouble / (2.0 * (n - nPos).toDouble)
    var w = spark.range(dim)
      .select(col("id").cast("int").as("bucket"), lit(0L).as("w_micro"))
    def scoresOf(wc: DataFrame): DataFrame =
      y.join(
        tf.join(wc, "bucket").groupBy("doc_id")
          .agg(sum(col("tf") * col("w_micro")).as("s_micro")),
        Seq("doc_id"), "left")
        .withColumn("s_micro", coalesce(col("s_micro"), lit(0L)))
    for (_ <- 1 to steps) {
      val g = scoresOf(w)
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("s_micro") / lit(1e6))))
        .withColumn("bw", when(col("y") === 1, lit(balPos)).otherwise(lit(balNeg)))
        .select(col("doc_id"),
          round((col("y") - col("p")) * col("bw") * lit(1e6)).cast("long").as("g_micro"))
      val gsum = tf.join(g, "doc_id").groupBy("bucket")
        .agg(sum(col("tf") * col("g_micro")).as("gsum"))
      w = w.join(gsum, Seq("bucket"), "left")
        .withColumn("gz", coalesce(col("gsum"), lit(0L)))
        .withColumn("w_micro",
          col("w_micro") + expr(s"(gz * $lrNum) div ${n * lrDen}"))
        .select("bucket", "w_micro")
        .localCheckpoint()
    }
    scoresOf(w)
      .withColumn("p_hat",
        round(lit(1.0) / (lit(1.0) + exp(-col("s_micro") / lit(1e6))), 4))
      .select(col("doc_id"), col("y"), col("s_micro"), col("p_hat"),
        (col("s_micro") >= 0).cast("int").as("pred"))
      .orderBy("doc_id")
  }

  /** Generated oracle for [[logregScores]] — the `steps` gradient
    * rounds unrolled as CTEs, weights reproduced bit-for-bit. */
  def logregOracle(dim: Int = 256, steps: Int = 6,
                   lrNum: Long = 1L, lrDen: Long = 4L): String = {
    val sb = new StringBuilder
    sb ++= "WITH y0 AS (SELECT doc_id, CASE WHEN CAST(len(string_split(text, ' ')) AS INTEGER) >= 20\n" +
      "  AND round(CAST(len(list_filter(string_split(text, ' '),\n" +
      "    x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)\n" +
      "    / len(string_split(text, ' ')), 4) <= 0.2 THEN 1 ELSE 0 END AS y FROM documents),\n"
    sb ++= "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM y0),\n"
    sb ++= "np AS (SELECT CAST(sum(y) AS BIGINT) AS np FROM y0),\n"
    sb ++= "bal AS (SELECT CAST((SELECT n FROM nn) AS DOUBLE) / (2.0 * CAST((SELECT np FROM np) AS DOUBLE)) AS bp,\n" +
      "  CAST((SELECT n FROM nn) AS DOUBLE) / (2.0 * CAST((SELECT n FROM nn) - (SELECT np FROM np) AS DOUBLE)) AS bn),\n"
    sb ++= "tf AS MATERIALIZED (\n" +
      s"  SELECT doc_id, CAST(CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % $dim AS INTEGER) AS bucket,\n" +
      "    CAST(count(*) AS BIGINT) AS tf\n" +
      "  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)\n" +
      "  GROUP BY 1, 2),\n"
    sb ++= s"w0 AS (SELECT CAST(unnest(generate_series(0, ${dim - 1})) AS INTEGER) AS bucket, CAST(0 AS BIGINT) AS w),\n"
    for (t <- 1 to steps) {
      sb ++= s"s$t AS MATERIALIZED (SELECT y0.doc_id, y0.y, CAST(coalesce(sum(tf.tf * w.w), 0) AS BIGINT) AS s\n" +
        s"  FROM y0 LEFT JOIN tf ON y0.doc_id = tf.doc_id LEFT JOIN w${t - 1} w ON tf.bucket = w.bucket\n" +
        "  GROUP BY y0.doc_id, y0.y),\n"
      sb ++= s"g$t AS (SELECT doc_id, CAST(round((y - 1/(1 + exp(-(CAST(s AS DOUBLE) / 1000000.0)))) * " +
        s"(CASE WHEN y = 1 THEN (SELECT bp FROM bal) ELSE (SELECT bn FROM bal) END) * 1000000.0, 0) AS BIGINT) AS g FROM s$t),\n"
      sb ++= s"gs$t AS (SELECT tf.bucket, CAST(sum(tf.tf * g$t.g) AS BIGINT) AS gsum FROM tf JOIN g$t USING (doc_id) GROUP BY tf.bucket),\n"
      sb ++= s"w$t AS (SELECT w${t - 1}.bucket, w${t - 1}.w + (coalesce(gs$t.gsum, 0) * $lrNum) // ((SELECT n FROM nn) * $lrDen) AS w\n" +
        s"  FROM w${t - 1} LEFT JOIN gs$t USING (bucket)),\n"
    }
    sb ++= s"sf AS (SELECT y0.doc_id, y0.y, CAST(coalesce(sum(tf.tf * w.w), 0) AS BIGINT) AS s\n" +
      s"  FROM y0 LEFT JOIN tf ON y0.doc_id = tf.doc_id LEFT JOIN w$steps w ON tf.bucket = w.bucket\n" +
      "  GROUP BY y0.doc_id, y0.y)\n"
    sb ++= "SELECT doc_id, y, s AS s_micro,\n" +
      "  round(1/(1 + exp(-(CAST(s AS DOUBLE) / 1000000.0))), 4) AS p_hat,\n" +
      "  CAST(s >= 0 AS INTEGER) AS pred\n" +
      "FROM sf ORDER BY doc_id"
    sb.toString
  }

  /** Source-mixture rebalancing — the data-mixing step every LLM
    * pretraining pipeline runs (Pile/Dolma-style): given a per-source
    * character budget, compute each source's keep-rate and apply
    * deterministic hash sampling so the kept corpus matches the target
    * mixture. The target here is "half the corpus, equal chars per
    * source": rate_s = min(1, (Σchars / 2·n_sources) / chars_s) —
    * over-represented sources are thinned hardest. Sampling reuses the
    * engine-portable md5 hex-threshold trick from
    * `Relational.weightedSample`, so the kept SET (not just its size)
    * is identical across engines and across runs.
    *
    * Scale: pass 1 is a per-source aggregate (the mixture table —
    * bounded by the number of named sources, a config-sized relation);
    * pass 2 re-scans docs and joins that tiny relation on source (AQE
    * broadcasts it by size, no hint needed) with the keep decision as
    * a scan-side filter. No shuffle ever carries document text. */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "source", "n_chars")
    val bySrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_before"))
    val tot = bySrc.agg(sum("chars_before").as("total"), count(lit(1)).as("nsrc"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("rate",
        least(lit(1.0), (col("total") / (lit(2.0) * col("nsrc"))) / col("chars_before")))
    val thresh = lpad(lower(hex(floor(col("rate") * 4294967296L).cast("long"))), 8, "0")
    val kept = docs.join(rates.select("source", "rate"), "source")
      .filter(col("rate") >= 1.0 ||
        substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8) < thresh)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
    rates
      .select(col("source"), col("n_docs"), col("chars_before"), round(col("rate"), 4).as("rate"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("chars_before"), col("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .orderBy("source")
  }

  /** Multinomial temperature sampling weights — the multilingual
    * mixing rule from XLM-R / mT5 (Conneau et al. 2020
    * arXiv:1911.02116 §3.1; Xue et al. 2021 arXiv:2010.11934 §3.2):
    * sample source s with p_s ∝ share_s^alpha, alpha < 1 flattening
    * the natural distribution so low-resource sources are upsampled.
    * Output one row per source: natural share, tempered sampling
    * probability, and the upsample factor p_s / share_s the loader
    * applies as a repeat-rate. alpha follows mT5's 0.3.
    *
    * Scale: one per-source aggregate (config-sized relation) and one
    * scalar normalizer broadcast back over it — the weights table is
    * what a 100 TB run ships to its data loader; no document-level
    * work at all. pow/round are pointwise doubles, identical across
    * engines. */
  def mixTemperature(spark: SparkSession, dir: String,
                     alpha: Double = 0.3): DataFrame = {
    val bySrc = Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val tot = bySrc.agg(sum("n_chars").as("total_chars"))
    val shared = bySrc.crossJoin(broadcast(tot))
      .withColumn("share", col("n_chars") / col("total_chars"))
      .withColumn("share_a", pow(col("share"), lit(alpha)))
    val z = shared.agg(sum("share_a").as("z"))
    shared.crossJoin(broadcast(z))
      .withColumn("p_temp", col("share_a") / col("z"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(col("share"), 6).as("share"),
        round(col("p_temp"), 6).as("p_temp"),
        round(col("p_temp") / col("share"), 4).as("upsample"))
      .orderBy("source")
  }

  /** Budget-constrained mixture fill — the deterministic-greedy
    * counterpart of [[mixRebalance]]: the same equal-share-half-corpus
    * target (budget_s = Σchars / 2·n_sources per source), but enforced
    * by EXACT prefix fill instead of a probabilistic keep-rate. Docs
    * are taken per source in md5-hash order (an unbiased deterministic
    * permutation, the weightedSample trick) while the running chars
    * BEFORE the doc stay under the budget — so the fill overshoots by
    * at most one document and the selected SET is identical across
    * engines and runs. Output one row per doc: (doc_id, source,
    * n_chars, kept).
    *
    * Scale: the per-source ordered prefix sum is the packSequences
    * two-phase scan GENERALIZED BY KEY — range-partition on (source,
    * hash), cumsum within each partition in parallel, then
    * exclusive-scan the per-(partition, source) totals (bounded by
    * n_sources × n_partitions, cluster-sized not data-sized) on the
    * driver and broadcast the base offsets — never a
    * one-partition-per-source window, which would funnel each
    * source's whole corpus through a single task at 100 TB. */
  def budgetFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents").select("doc_id", "source", "n_chars")
    val tot = docs.agg(sum("n_chars").as("total"),
      count_distinct(col("source")).as("nsrc"))
    val budget = tot.select((col("total") / (lit(2L) * col("nsrc"))).as("budget"))
    val hashed = docs.withColumn("h",
        md5(concat(lit("fill:"), col("doc_id").cast("string"))))
      .repartitionByRange(col("source"), col("h"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val w = Window.partitionBy("pid", "source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = hashed.withColumn("local_before",
      coalesce(sum("n_chars").over(w), lit(0L))).localCheckpoint()
    val totals = local.groupBy("pid", "source").agg(sum("n_chars").as("ptotal"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._1)
        sorted.scanLeft((0, src, 0L)) { case ((_, _, acc), (pid, _, t)) =>
          (pid, src, acc + t)
        }.tail.zip(sorted).map { case ((pid, _, after), (_, _, t)) =>
          (pid, src, after - t) }
      }
    val baseDf = spark.createDataFrame(totals).toDF("pid", "source", "base")
    local.join(broadcast(baseDf), Seq("pid", "source"))
      .crossJoin(broadcast(budget))
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((col("base") + col("local_before")) < col("budget")).as("kept"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how much its hashed-unigram distribution
    * looks like a TARGET domain relative to the raw corpus — the
    * principled replacement for per-source keep-rates when the
    * "domain" is defined by content, not provenance. Target here =
    * the lang='en' slice; features = the same md5 % dim hashed
    * buckets as [[featureHash]].
    *
    * score(d) = Σ_b tf_db · log( p̂_target(b) / p̂_source(b) ) with
    * add-0.5 smoothing on both distributions. Engine-exactness: the
    * per-bucket log-ratio is ONE libm log of ONE exactly-rounded
    * IEEE quotient of exact doubles (counts + 0.5 — the lift lesson),
    * rounded to integer micros BEFORE the per-doc sum, so the
    * reduction is associative and order-free (the BM25 discipline)
    * and the ranking is engine-deterministic.
    *
    * Scale: the feature relation shuffles (doc_id, bucket) ids once;
    * both distributions reduce it to dim-sized relations (256 rows —
    * config-sized, broadcast); the per-doc score is one partial+final
    * hash agg over the tf relation with the log-ratio mapped in via a
    * broadcast join. Top-N lands via sort+limit, not a global window,
    * so nothing single-partitions before the bounded head. */
  def dsirWeights(spark: SparkSession, dir: String, dim: Int = 256,
                  topN: Int = 100): DataFrame =
    dsirWeightsOn(Tables(spark, dir, "documents"), dim, topN)

  /** (doc_id, lang, bucket, tf) hashed-unigram feature relation —
    * shared by the log-ratio training and the per-doc scoring. */
  private def dsirTf(docs: DataFrame, dim: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
      .withColumn("bucket",
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % dim).cast("int"))
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("tf"))

  /** Per-bucket integer-micro log ratios ln(p̂_target/p̂_source) from a
    * tf relation — the trained DSIR "model" (dim-sized by contract). */
  private def dsirLogRatiosFromTf(tf: DataFrame, dim: Int): DataFrame = {
    val srcB = tf.groupBy("bucket").agg(sum("tf").as("sb"))
    val tgtB = tf.filter(col("lang") === "en")
      .groupBy("bucket").agg(sum("tf").as("tb"))
    val totals = srcB.agg(sum("sb").as("s_tot"))
      .crossJoin(tgtB.agg(sum("tb").as("t_tot")))
    val half = dim / 2.0 // 0.5 * dim, exact in double
    srcB.join(tgtB, Seq("bucket"), "left")
      .na.fill(0L, Seq("tb"))
      .crossJoin(broadcast(totals))
      .withColumn("lr_micro",
        round(log((col("tb") + lit(0.5)) * (col("s_tot") + lit(half)) /
          ((col("t_tot") + lit(half)) * (col("sb") + lit(0.5)))) * lit(1e6)).cast("long"))
      .select("bucket", "lr_micro")
  }

  /** The trained DSIR model in driver form for broadcast into
    * streaming/scoring expressions: (bucket -> lr_micro) plus the
    * unseen-bucket default (tb = sb = 0 ⇒ ln((S+δ)/(T+δ))). The
    * collect is dim-sized (256 rows) — config-scale by contract, the
    * same class as the K-row k-means/BPE collects. */
  def dsirModel(docs: DataFrame, dim: Int = 256): (Map[Int, Long], Long) = {
    val tf = dsirTf(docs, dim).localCheckpoint()
    val lr = dsirLogRatiosFromTf(tf, dim).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("lr_micro")).toMap
    val half = dim / 2.0
    val Array(sTot, tTot) = {
      val r = tf.agg(sum("tf").as("s"),
        sum(when(col("lang") === "en", col("tf")).otherwise(lit(0L))).as("t")).head()
      Array(r.getAs[Long]("s"), r.getAs[Long]("t"))
    }
    val default = math.round(math.log((sTot + half) / (tTot + half)) * 1e6)
    (lr, default)
  }

  def dsirWeightsOn(docs: DataFrame, dim: Int = 256, topN: Int = 100): DataFrame = {
    val tf = dsirTf(docs, dim)
    val lr = dsirLogRatiosFromTf(tf, dim)
    val scored = tf.join(broadcast(lr), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lr_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topN)
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("score_micro"))
      .orderBy("rank")
  }

  /** Multinomial Naive Bayes classifier — supervised ML expressed
    * PURELY as relational algebra: the train/score/evaluate loop of a
    * classic distributed text classifier with no ML library, no UDF,
    * no driver-side model object. The full pipeline is
    *   1. deterministic 80/20 hash split (same md5 hex-threshold rung
    *      as `Relational.hashSample`, so the split — hence the model —
    *      is bit-identical across engines);
    *   2. TRAIN = one groupBy: token counts per (label, token),
    *      totals per label, doc priors, vocabulary size. The model IS
    *      these four relations — Heaps-law bounded (vocab × |labels|),
    *      which is what makes step 3 broadcastable at any corpus size;
    *   3. SCORE = cross join the held-out tokens with the label set
    *      (|labels| = 5 here), broadcast-left-join the count relation,
    *      and one aggregate per (doc, label):
    *      score = ln P(l) + Σ_t ln(c_tl + 1) − n_d · ln(T_l + V),
    *      i.e. Laplace-smoothed multinomial log-likelihood;
    *   4. PREDICT = argmax over the |labels| rows per doc (window
    *      row_number, ties broken by label — scores are sums of
    *      hundreds of O(1) log terms, so cross-engine libm noise
    *      (~1e-13 absolute) cannot flip an argmax whose margins are
    *      O(1e-2)+ on any non-degenerate corpus);
    *   5. EVALUATE = the confusion matrix (true × predicted counts) —
    *      an ALL-INTEGER output, so no float ever reaches the
    *      correctness gate.
    *
    * Scale: the only shuffle that carries corpus-sized data is the
    * per-(doc, label) aggregate, keyed by doc — everything joined into
    * it (counts, priors, totals, vocab) is model-sized and broadcast.
    * The synthetic labels are independent of the text, so the learned
    * model is priors-dominated — the operator's value is the shape. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    // 0xcc / 0x100 = 79.7% train
    val isTrain = substring(md5(concat(lit("nb:"), col("doc_id").cast("string"))), 1, 2) < "cc"
    val toks = docs
      .select(col("doc_id"), col("lang"), isTrain.as("is_train"),
        explode(tokens(col("text"))).as("token"))
    val trainToks = toks.filter(col("is_train"))
    val counts = trainToks.groupBy(col("lang").as("cand"), col("token"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("cand").agg(sum("c").as("t"))
    val vocab = trainToks.agg(countDistinct("token").as("v"))
    val priors = docs.filter(isTrain).groupBy(col("lang").as("cand"))
      .agg(count(lit(1)).as("nd"))
    val test = toks.filter(!col("is_train"))
      .select(col("doc_id"), col("lang").as("true_lang"), col("token"))
    val agg = test.crossJoin(broadcast(priors.select("cand")))
      .join(broadcast(counts), Seq("cand", "token"), "left")
      .groupBy("doc_id", "true_lang", "cand")
      .agg(
        sum(log(coalesce(col("c"), lit(0L)) + lit(1))).as("s_tok"),
        count(lit(1)).as("n_tok"))
    val scored = agg
      .join(broadcast(priors), "cand")
      .join(broadcast(totals), "cand")
      .crossJoin(broadcast(vocab))
      .withColumn("score",
        log(col("nd")) + col("s_tok") - col("n_tok") * log(col("t") + col("v")))
    val rk = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand"))
    scored.withColumn("rk", row_number().over(rk)).filter(col("rk") === 1)
      .groupBy(col("true_lang"), col("cand").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "predicted")
  }
}
