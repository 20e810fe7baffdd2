package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Layouts
import graft.operators.Components

/** Deduplication operators for a training-data pipeline (builder-prompt
  * north star; SURVEY.md §2.10 U9): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Embedding-cosine near-dup lives in
  * graft.similarity.Similarity.
  *
  * Scale design:
  *  - Exact dedup = hash-groupBy on a fingerprint, never on the raw text
  *    (shuffle 16-byte keys, not documents).
  *  - MinHash/LSH: candidate generation is a self-join on *band keys*
  *    (equality join, hash-partitioned) — O(collisions), never the O(n²)
  *    all-pairs cross join. Signatures are built from md5 which is
  *    engine-portable (same hex in Spark and the DuckDB oracle).
  *  - SimHash: 64-bit signature via per-bit majority vote of token
  *    hashes; banding the signature into 4×16-bit keys turns
  *    hamming-distance search into equality joins.
  */
object Dedup {

  /** THE exact-dedup fingerprint — md5 over case/whitespace-normalized
    * text. Shared by batch exactDedup and streaming
    * StreamDedup.dedupStream so both layers agree on what counts as a
    * duplicate (a streaming pass compacted later by the batch dedup
    * must not reclassify case variants). */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup — group documents by content hash; keeper = min doc_id
    * (deterministic), n_copies counts the group. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(fingerprint(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  /** Per-row (no explode/groupBy) forms of the SAME MinHash/LSH family
    * as shingles()/minhashCols()/minhashPairsOf below — the streaming
    * layer's signature builder (graft.streaming.StreamNearDup). A doc's
    * signature depends only on its own text, so it never needs an
    * aggregation: the batch path explodes shingles because the band
    * SELF-JOIN wants a long relation anyway, while the streaming path
    * computes the band keys narrow, per arriving row, with no shuffle
    * before the band-key state lookup. min over a distinct set equals
    * min over the raw list, so skipping the batch path's DISTINCT
    * changes nothing. StreamNearDupSpec pins batch/stream band-key
    * equality by comparing emitted pairs with minhashPairs. */
  def rowShingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array(text))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** numHashes min-affine components over a shingle array column —
    * element s equals batch minhashCols' mh{s}. The base array (one
    * md5 per shingle) is computed ONCE via the single-element-array
    * transform (a let binding — the lambda variable is evaluated once,
    * referenced numHashes times), mirroring the batch path's
    * pre-projected base column. */
  def rowMinhashes(shinglesCol: Column, numHashes: Int = 16): Column =
    element_at(
      transform(array(transform(shinglesCol, sh => minhashBase(sh))),
        bs => array((0 until numHashes).map(i =>
          array_min(transform(bs, b => minhashAffine(b, i)))): _*)),
      1)

  /** Band structs (band_idx, band_key) from a minhash-array column —
    * band b's key equals batch minhashPairsOf's md5 over the
    * ':'-joined decimal component renderings. */
  def rowBandKeys(mhsCol: Column, numHashes: Int = 16, bands: Int = 4): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.cast("int").as("band_idx"),
        md5(array_join(transform(slice(mhsCol, b * rows + lit(1), lit(rows)),
          m => m.cast("string")), ":")).as("band_key")))
  }

  /** 3-token shingles per document. Documents shorter than 3 tokens
    * contribute their whole text as a single shingle.
    * `distinct = false` skips the set-semantics shuffle — the FULL
    * (doc_id, shingle) relation repartitioned on both columns, the
    * widest shuffle in the minhash pipeline — and is correct wherever
    * only per-doc MINIMA are consumed (min over duplicates == min over
    * the distinct set); exact-Jaccard consumers keep the default. */
  def shingles(docs: DataFrame, n: Int = 3, distinct: Boolean = true): DataFrame = {
    val exploded = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingle", explode(expr(
        s"CASE WHEN size(toks) < $n THEN array(text) ELSE " +
          s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n))) END")))
      .select("doc_id", "shingle")
    if (distinct) exploded.distinct() else exploded
  }

  /** MinHash hash family — ONE md5 per shingle expanded into numHashes
    * components by affine permutations over the Mersenne prime
    * p = 2^31−1: mh_i = min over shingles of (a_i·base + b_i) mod p,
    * base = first 60 bits of md5(shingle) mod p (the classic
    * one-permutation-per-a,b MinHash construction; Broder's family).
    * Deterministic AND engine-portable — the DuckDB oracle replays the
    * identical integer arithmetic via ('0x'||substr(md5,1,15))::BIGINT
    * (a·base < 2^62 so no 64-bit overflow in either engine).
    * Round 16: replaces 16 md5 evaluations per (doc, shingle) row —
    * signature hashing was ~the whole cost of dedup_minhash_pairs at
    * 100× (sig-only leg 10.6 s of the 21.2 s total), the steepest
    * measured production curve (8.8×/decade, round-14 anchor). */
  val minhashPrime: Long = 2147483647L

  /** (a_i, b_i) affine parameters — fixed, a_i ∈ [1, p), derived from
    * Knuth's multiplicative constant; literal values are interpolated
    * into the oracle SQL so both engines share them by construction. */
  val minhashParams: IndexedSeq[(Long, Long)] =
    (0 until 64).map { i =>
      val a = (2654435761L * (i + 1)) % minhashPrime
      val b = (40503L * (i + 1) * (i + 7)) % minhashPrime
      (if (a == 0) 1L else a, b)
    }

  /** 60-bit md5 prefix of a shingle reduced mod p — the shared base
    * value each affine permutation rearranges. */
  def minhashBase(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 15), 16, 10).cast("long") % minhashPrime

  private[graft] def minhashAffine(base: Column, i: Int): Column = {
    val (a, b) = minhashParams(i)
    (base * a + b) % minhashPrime
  }

  /** MinHash signature components over a pre-projected base column
    * (compute [[minhashBase]] ONCE per shingle row; each component is
    * a min over one multiply-add — never re-derive the md5 per i). */
  def minhashCols(numHashes: Int, base: Column = col("__mhb")): Seq[Column] =
    (0 until numHashes).map(i =>
      min(minhashAffine(base, i)).as(s"mh$i"))

  /** Per-document MinHash signature (first 4 hashes exposed for the
    * oracle) + the first LSH band key (band = md5 of the ':'-joined
    * minhash components). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    shingles(Tables(spark, dir, "documents"), distinct = false)
      .withColumn("__mhb", minhashBase(col("shingle")))
      .groupBy("doc_id")
      .agg(minhashCols(4).head, minhashCols(4).tail: _*)
      .withColumn("band0", md5(concat_ws(":",
        Seq("mh0", "mh1", "mh2", "mh3").map(col(_).cast("string")): _*)))
      .orderBy("doc_id")

  /** MinHash LSH near-dup candidate pairs: full 16-hash signature,
    * 4 bands × 4 rows; documents sharing ≥1 band key become candidates.
    * The band join is an equality self-join on (band_idx, band_key) —
    * shuffle-partitioned by key, no cross product — run over one
    * representative per DISTINCT signature ([[collapseBySig]]), so a
    * template duplicated d times costs O(d) star pairs (sharing all
    * `bands` bands by identity), never the Θ(d²) clique. */
  def minhashPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // checkpointed: the signature agg feeds the keeper groupBy, the
    // star join, and (via reps) both sides of the band self-join
    val sigs = sigsOf(shingles(docs, distinct = false), numHashes).localCheckpoint()
    val (reps, stars) = collapseBySig(sigs, (0 until numHashes).map(i => col(s"mh$i")))
    val banded = bandedOfSigs(reps, numHashes, bands).localCheckpoint()
    pairsFromBands(banded, banded)
      .unionByName(stars.withColumn("n_shared_bands", lit(bands.toLong)))
      .orderBy("doc_a", "doc_b")
  }

  /** Full MinHash signature rows (doc_id, mh0..mh{n-1}) from a shingle
    * relation — map-side-combined (the explode never shuffles; only
    * the (doc_id, n longs) partials do). One md5 per shingle row via
    * the pre-projected base column; the n components are multiply-adds
    * inside the partial aggregate. */
  private[graft] def sigsOf(sh: DataFrame, numHashes: Int = 16): DataFrame =
    sigsOfBase(sh.withColumn("__mhb", minhashBase(col("shingle"))), numHashes)

  private[graft] def sigsOfBase(shBase: DataFrame, numHashes: Int = 16): DataFrame =
    shBase
      .groupBy("doc_id")
      .agg(minhashCols(numHashes).head, minhashCols(numHashes).tail: _*)

  /** Band explode of a signature relation — the banding is a pure
    * function of the signature, which is what makes the signature-level
    * duplicate collapse ([[collapseBySig]]) semantics-preserving. */
  private[graft] def bandedOfSigs(sigs: DataFrame, numHashes: Int = 16,
                                  bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      // ':'-separated — variable-length decimal renderings would
      // otherwise collide across component boundaries ("1"+"23" vs
      // "12"+"3"); fixed-width md5 hex never needed the separator
      val parts = (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string"))
      md5(concat_ws(":", parts: _*)).as(s"band$b")
    }
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band_idx"), col(s"band$b").as("band_key"))): _*
      )).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
  }

  /** The long banded relation (doc_id, band_idx, band_key) from a
    * shingle relation — the unit the in-memory pair join and the
    * persisted band index both consume. */
  def bandedOf(sh: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame =
    bandedOfSigs(sigsOf(sh, numHashes), numHashes, bands)

  /** Signature-identical duplicate collapse — the round-13 fix for
    * duplicate-degenerate bucket occupancy (VERDICT r12 #2): a
    * template duplicated d times has ONE signature, so it collides in
    * EVERY band and the band self-join emits the Θ(d²) clique — hash
    * resolution can never split identical keys, and a 100 TB web
    * crawl's duplicate cliques are real, not a corpus artifact.
    * Because banding is a pure function of the signature, a group
    * sharing its FULL signature can be collapsed to its min-id
    * representative BEFORE banding with nothing lost: a member
    * band-collides with an outside doc iff its representative does,
    * and the group itself is reconnected by the O(d) keeper star
    * (every member pairs with the representative, sharing all
    * `bands` bands by identity). The pair OUTPUT is therefore
    * star+representative shaped rather than member-clique shaped —
    * transitive-closure-equivalent to the uncollapsed join (DedupSpec
    * pins this), which is the semantics dedup consumes: dupClusters /
    * bestKeeperClusters outputs are unchanged rows-for-row.
    * Returns (representatives of `sigs`, star pairs (doc_a=keeper,
    * doc_b=member)). */
  private[graft] def collapseBySig(sigs: DataFrame, keyCols: Seq[Column]): (DataFrame, DataFrame) = {
    // Representatives come STRAIGHT from the keeper aggregate: the
    // signature columns are the grouping key, so the keeper row IS
    // the representative's signature row — no join back, and the
    // map-side combine means only distinct-signature partials ever
    // shuffle (the dup-heavy regime's d-sized groups reduce to one
    // partial per map partition). Checkpointed once for its two
    // consumers (the star join and the banding).
    // The round-13 shape (md5(concat(sig)) string key + join back +
    // two filters over the lazy join) evaluated the digest per
    // consumer and executed the fat join twice — measured +31-45%
    // on the clean sf0.1 corpus (BASELINE round 14).
    val reps = sigs.groupBy(keyCols: _*).agg(min(col("doc_id")).as("doc_id"))
      .select(sigs.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint()
    // The star join shuffles a 128-bit signature fingerprint (two
    // independently-seeded xxhash64 longs, 16 bytes) instead of the
    // 16 × 32-char md5 signature itself — collision odds ~2^-128 per
    // candidate; only members (doc_id ≠ keeper) survive the filter.
    // xxhash64 SKIPS null inputs without advancing state, so two
    // distinct signatures differing only in null placement — (null,x)
    // vs (x,null) — would collide on any number of seeds; the join
    // key therefore also carries an explicit null-placement BITMASK,
    // which restores placement sensitivity exactly (identical mask
    // required, no hash involved) with zero per-row string rendering
    // — the round-15 shape cast every key column to a null-sentineled
    // string for the second hash, the suspected cost behind the
    // multi-key-column caller's (nameEntities) 1.54× bench drift
    // (round-15 VERDICT item 3; A/B in BASELINE.md round 16).
    val nullMask: Column = keyCols.zipWithIndex
      .map { case (c, i) => when(c.isNull, lit(1L << (i % 64))).otherwise(lit(0L)) }
      .reduce(_.bitwiseXOR(_))
    def fp(df: DataFrame): DataFrame = df
      .withColumn("__h1", xxhash64(keyCols: _*))
      .withColumn("__h2", xxhash64(lit("graft:sig2") +: keyCols: _*))
      .withColumn("__nm", nullMask)
    val stars = fp(sigs).select(col("doc_id"), col("__h1"), col("__h2"), col("__nm"))
      .join(fp(reps).select(col("doc_id").as("__keeper"),
          col("__h1"), col("__h2"), col("__nm")),
        Seq("__h1", "__h2", "__nm"))
      .filter(col("doc_id") =!= col("__keeper"))
      .select(col("__keeper").as("doc_a"), col("doc_id").as("doc_b"))
    (reps, stars)
  }

  /** Normalized candidate pairs from two band relations: equality join
    * on (band_idx, band_key), ordered pair key, shared-band count.
    * The RAW join — quadratic in per-key multiplicity by nature; the
    * production entry points ([[minhashPairs]], [[simhashPairs]])
    * collapse signature-identical groups first so this join only ever
    * sees distinct signatures. Package-visible for the spec that pins
    * closure-equivalence of the collapsed output. */
  private[graft] def pairsFromBands(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_key"))
      .join(b.select(col("doc_id").as("doc_b"),
          col("band_idx").as("band_idx_b"), col("band_key").as("band_key_b")),
        col("band_idx") === col("band_idx_b") &&
        col("band_key") === col("band_key_b") &&
        col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")

  /** Band-join candidate pairs from an existing shingle relation (lets
    * callers that also need the shingles materialize them once).
    * UNCOLLAPSED member-level candidates — the unit the persisted
    * band index serves and ngramJaccardTopPairs' unrestricted-oracle
    * coverage requires; the duplicate-safe production entry point is
    * [[minhashPairs]]. */
  def minhashPairsOf(sh: DataFrame, numHashes: Int = 16, bands: Int = 4): DataFrame =
    minhashPairsOfBase(sh.withColumn("__mhb", minhashBase(col("shingle"))),
      numHashes, bands)

  /** [[minhashPairsOf]] over a relation carrying the PRE-COMPUTED
    * `__mhb` base column instead of shingle text — the entry point for
    * callers that keep only compact shingle fingerprints (a 60-bit
    * md5-prefix long reduces to the identical base via `% p`, so the
    * signatures are bit-equal to the text path's). */
  def minhashPairsOfBase(shBase: DataFrame, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    // materialized: the self-join references this relation on BOTH
    // sides, and without the checkpoint correctness-of-cost rests on
    // ReusedExchange recognizing the two subtrees — when it doesn't
    // (observed in the round-5 driver bench: 2.4 s → 6.0 s), the
    // 16-md5-agg shingle pipeline runs twice. The banded relation is
    // tiny ((doc_id, band_idx, band_key) ids only), so pinning it costs
    // O(docs) rows and guarantees the signature build runs exactly once.
    val long = bandedOfSigs(sigsOfBase(shBase, numHashes), numHashes, bands)
      .localCheckpoint()
    pairsFromBands(long, long)
  }

  /** Persisted near-dup band index — the serving layout for continuous
    * dedup (the IVFADC move applied to MinHash LSH): write the banded
    * relation ONCE as a catalog table bucketed by band_key, so (a) the
    * corpus is never re-shingled to generate pairs, and (b) the
    * index⋈index and delta⋈index joins are zero-exchange — hash
    * partitioning on band_key satisfies the (band_idx, band_key)
    * clustering both joins require. */
  def minhashBuildIndex(docs: DataFrame, table: String, numHashes: Int = 16,
                        bands: Int = 4): Unit =
    // the checkpoint keeps the bucket sizing count off the shingle
    // pipeline
    Layouts.save(bandedOf(shingles(docs, distinct = false), numHashes, bands)
      .localCheckpoint(), table, Some("band_key"))

  /** Incremental near-dup — the nightly-delta shape a live corpus
    * runs: shingle ONLY the new documents, emit every candidate pair
    * they form (delta×index against the CURRENT index + delta×delta),
    * then append the delta's bands so the index stays current.
    * O(delta) hashing; the index side is read, never rebuilt. Pair
    * semantics match `minhashPairs` on the union corpus exactly:
    * pairs(old ∪ delta) = servedPairs(old index) ∪ this call's result
    * (delta doc_ids must be fresh — the immutable-id contract). */
  def minhashAppendPairs(spark: SparkSession, table: String,
                         delta: DataFrame, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    val dl = bandedOf(shingles(delta, distinct = false), numHashes, bands).localCheckpoint()
    val idx = spark.table(table)
    // old⋈delta pairs normalize through least/greatest (delta ids can
    // sort either side of old ids); delta⋈delta uses the plain ordered
    // self-join — splitting keeps every pair counted exactly once
    val oldNew = dl.select(col("doc_id").as("d_id"),
        col("band_idx").as("d_band_idx"), col("band_key").as("d_band_key"))
      .join(idx,
        col("d_band_idx") === col("band_idx") &&
        col("d_band_key") === col("band_key") &&
        col("d_id") =!= col("doc_id"))
      .select(
        least(col("d_id"), col("doc_id")).as("doc_a"),
        greatest(col("d_id"), col("doc_id")).as("doc_b"),
        col("band_idx"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
    val newNew = pairsFromBands(dl, dl)
    // materialize BEFORE the append: the pair plan reads the index
    // table, and deferring execution past the append would double-count
    // delta⋈delta pairs through the freshly appended rows
    val result = oldNew.unionByName(newNew)
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("n_shared_bands")).cast("long").as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
      .localCheckpoint()
    // append reuses the table's build-time bucket count (the spec must
    // match the catalog's for the zero-exchange contract to survive)
    Layouts.save(dl, table, Some("band_key"), append = true)
    spark.catalog.refreshTable(table)
    result
  }

  /** Candidate pairs straight from the persisted index — no shingling,
    * no signature build; with matched bucketing the self-join plans
    * zero exchanges. */
  def minhashPairsServed(spark: SparkSession, table: String): DataFrame =
    pairsFromBands(spark.table(table), spark.table(table))

  /** Persisted EXACT-dedup keeper index: (fp, keeper_id) written once,
    * bucketed by fp — the exact-rung twin of the minhash band index.
    * A live corpus probes and appends it in O(delta) instead of
    * re-fingerprinting history nightly. */
  def exactBuildIndex(docs: DataFrame, table: String): Unit =
    Layouts.save(docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keeper_id")).localCheckpoint(), table, Some("fp"))

  /** Keeper decisions for a DELTA batch against the index, with
    * UNION-corpus semantics: a delta doc's keeper is the global
    * minimum doc_id of its fingerprint group across index ∪ delta
    * (least of the index keeper and the delta's own per-fp min), so
    * the decision is identical to running exactDedup over the whole
    * corpus — regardless of how ids interleave. O(delta)
    * fingerprinting; the index join is bucketed on fp (no index-side
    * exchange). */
  def exactServedKeep(spark: SparkSession, table: String, delta: DataFrame): DataFrame = {
    val d = delta.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .localCheckpoint()
    val dMin = d.groupBy("fp").agg(min("doc_id").as("delta_min"))
    val idx = spark.table(table).select(col("fp"), col("keeper_id"))
    d.join(dMin, "fp")
      .join(idx, Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(least(col("keeper_id"), col("delta_min")), col("delta_min"))
          .as("keeper_doc_id"))
      .withColumn("is_kept", col("keeper_doc_id") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** Append the delta's NEW fingerprints (left_anti on the index) with
    * their delta-local keepers. Keeper-exactness after append relies
    * on the immutable-increasing-id contract (delta ids are fresh and
    * larger than every indexed id — the minhashAppendPairs contract);
    * [[exactServedKeep]] itself needs no such ordering. */
  def exactAppend(spark: SparkSession, table: String, delta: DataFrame): Unit = {
    val d = delta.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keeper_id"))
    val fresh = d.join(spark.table(table).select("fp"), Seq("fp"), "left_anti")
    Layouts.save(fresh, table, Some("fp"), append = true)
  }

  /** Driver-surface form: index = docs with doc_id % 10 != 9 (built
    * once per (dir, data fingerprint)), delta = the % 10 == 9 slice —
    * keeper decisions must equal the whole-corpus exact dedup, which
    * is what the SQL oracle checks directly. */
  def exactServedQuery(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.dataFingerprint(s"$dir/documents.parquet")
    val docs = Tables(spark, dir, "documents")
    val table = Layouts.ensure(spark, "graft_exactfp", dir, s"$dir|$fp|exactfp") {
      exactBuildIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= 9), _)
    }
    exactServedKeep(spark, table, docs.filter(pmod(col("doc_id"), lit(10)) === 9))
  }

  /** Duplicate-cluster resolution — the step AFTER pair generation in a
    * real dedup pipeline: LSH emits candidate PAIRS, but dedup acts on
    * CLUSTERS (the transitive closure: if a~b and b~c, keep one of
    * {a,b,c}). Pairs feed the edge-list CC (Components.labelGraph);
    * cluster id = min doc_id in the cluster, which doubles as the
    * canonical-keeper rule (deterministic, the same keeper the exact
    * dedup picks). Docs with no dup partner don't appear — they are
    * their own keepers by definition. */
  def dupClusters(docs: DataFrame): DataFrame =
    Components.labelGraph(
        // materialized: the symmetrized edge union otherwise embeds the
        // whole MinHash pipeline twice (once per direction), and the
        // pair relation is tiny (candidate pairs only) and consumed whole
        minhashPairs(docs).select(col("doc_a").as("u"), col("doc_b").as("v"))
          .localCheckpoint())
      .select(col("node").as("doc_id"), col("component").as("cluster"))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy("doc_id")

  /** Quality-aware keeper selection — the production refinement of
    * [[dupClusters]]' min-id rule: within each duplicate cluster keep
    * the argmax-quality member (here n_chars — "keep the longest
    * representative", the CCNet/RefinedWeb convention; ties break to
    * the lowest doc_id so the choice is total). Real pipelines keep
    * the best document, not the first-seen one — the min-id rule loses
    * a long original to a truncated mirror that happens to have a
    * smaller id. Output one row per clustered doc: (doc_id, cluster,
    * keeper_id, is_kept).
    *
    * Scale: same CC closure as dupClusters (shuffles id pairs only);
    * the keeper argmax is a per-cluster window over the clustered
    * docs, which are the DUP subset (bounded by dup density), not the
    * corpus; the quality column joins by doc_id, never carrying text. */
  def bestKeeperClusters(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Components.labelGraph(
        minhashPairs(docs).select(col("doc_a").as("u"), col("doc_b").as("v"))
          .localCheckpoint())
      .select(col("node").as("doc_id"), col("component").as("cluster"))
    val scored = comp.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
    val w = Window.partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
    val keeper = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select(col("cluster"), col("doc_id").as("keeper_id"))
    scored.join(keeper, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard over shingle sets: |A∩B| / |A∪B|, with
    * candidate pairs from the MinHash band join (minhashPairs) and the
    * exact shingle intersection computed only on candidates. A raw
    * shingle-equality self-join would emit d² rows for a shingle shared
    * by d documents (quadratic on hot shingles — a scale-killer at
    * 100 TB); the band join is O(collisions) and high-Jaccard pairs
    * collide with probability ~1-(1-J^rows)^bands (≈0.9998 at J=0.99),
    * so the exact top-k survives. The DuckDB oracle still computes the
    * unrestricted all-pairs answer, which keeps candidate-coverage
    * honest: a missed top-k pair would hash-mismatch. */
  def ngramJaccardTopPairs(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // Round-17 scale rework (isolated 100× anchor was 122 s —
    // 22×/decade — with text shingles checkpointed and shuffled):
    //  1. The shingle relation carries a 60-bit md5-prefix LONG, not
    //     text — the same value minhashBase reduces mod p, so the
    //     signature build is bit-identical while the distinct, the
    //     checkpoint, the size table, and the intersection join all
    //     move 16-byte (doc_id, fp) rows. Identity by fingerprint:
    //     a collision inside one doc's set or one candidate pair's
    //     union is ~2⁻⁶⁰ per shingle pair — vanishing against the
    //     corpus sizes this runs at.
    //  2. Both intersection sides are SEMI-FILTERED to candidate docs
    //     before the join — candidates are band collisions (tiny), so
    //     the join never shuffles the full corpus shingle relation.
    val sh = shingles(docs, distinct = false)
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("fp"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val cand = minhashPairsOfBase(
      sh.withColumn("__mhb", col("fp") % minhashPrime)).select("doc_a", "doc_b")
    val a = sh.join(cand.select(col("doc_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("fp"))
    val b = sh.join(cand.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("fp"))
    val inter = cand
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "fp"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id"), col("n_shingles").as("n_a")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_shingles").as("n_b")), col("doc_b") === col("doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** SimHash bit width: 60 bits = 15 hex chars of md5, the widest slice
    * that parses into a signed 64-bit int in every engine — the hash
    * family must be engine-portable so the DuckDB oracle reproduces
    * signatures bit-for-bit (xxhash64 exists only in Spark). */
  val simhashBits = 60

  /** 60-bit SimHash per document: per-bit majority vote over portable
    * token hashes (first 15 md5 hex chars parsed as an integer).
    * Entirely relational: explode tokens → per-bit signed sums →
    * reassemble the sign bits into one long. */
  def simhash(docs: DataFrame): DataFrame = {
    val bitSums = (0 until simhashBits).map(bit =>
      sum(when(expr(s"(h >> $bit) & 1") === 1, 1).otherwise(-1)).as(s"b$bit"))
    val reassemble = (0 until simhashBits)
      .map(bit => s"IF(b$bit > 0, CAST(1 AS BIGINT) << $bit, CAST(0 AS BIGINT))")
      .mkString(" | ")
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", expr(reassemble))
      .select("doc_id", "simhash")
  }

  /** Band structs (band_idx, band_key) for a simhash column under the
    * multi-block scheme (see simhashPairs): one struct per
    * (blocks−3)-subset of signature blocks, key = the subset's block
    * values concatenated (≤45 bits — fits a long). Shared by the batch
    * band join and the streaming band-state path, so batch and stream
    * bucket identically by construction. Arithmetic >> equals logical
    * here: a 60-bit signature is always non-negative. */
  def simhashBandKeys(sigCol: Column, blocks: Int = 4): Column = {
    require(simhashBits % blocks == 0 && blocks >= 4,
      s"block count $blocks must be >= 4 and divide $simhashBits")
    val blockBits = simhashBits / blocks
    array((0 until blocks).combinations(blocks - 3).toSeq.zipWithIndex.map { case (sub, i) =>
      val key = sub.foldLeft(lit(0L).cast("long")) { (acc, blk) =>
        shiftleft(acc, blockBits)
          .bitwiseOR(shiftright(sigCol, blk * blockBits).bitwiseAND(lit((1L << blockBits) - 1)))
      }
      struct(lit(i).as("band_idx"), key.as("band_key"))
    }: _*)
  }

  /** Per-row 60-bit SimHash, bit-identical to the batch `simhash`
    * aggregate by construction (same token split, same md5 slice, same
    * ±1 majority vote — the explode+groupBy sum and the array-aggregate
    * sum add the same terms): the streaming path needs the signature as
    * a pure row function so no aggregation precedes the band-state
    * lookup. Two-step (bit sums, then sign reassembly) so the O(tokens)
    * aggregate is written once, not 60 times. */
  def rowSimhashBitSums(textCol: Column): Column = {
    val hashes = transform(split(textCol, " "), t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    aggregate(hashes, array((0 until simhashBits).map(_ => lit(0)): _*), (acc, h) =>
      array((0 until simhashBits).map(b =>
        element_at(acc, b + 1) +
          when(shiftright(h, b).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)): _*))
  }

  def rowSimhashFrom(sumsCol: Column): Column =
    (0 until simhashBits).map(b =>
      when(element_at(sumsCol, b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)

  /** SimHash near-dup candidates via the multi-block banding of Manku
    * et al. (WWW'07, "Detecting Near-Duplicates for Web Crawling"):
    * split the 60-bit signature into `blocks` equal blocks and key one
    * candidate table on every (blocks−3)-subset of them. If two
    * signatures differ in ≤3 bits, those bits touch ≤3 blocks, so some
    * (blocks−3)-subset is bit-identical — the Hamming-≤3 detection
    * guarantee holds at EVERY block count. Candidates are then exactly
    * filtered by popcount ≤ maxHamming (coverage beyond distance 3 is
    * probabilistic, as in the paper).
    *
    * blocks = 4 is the classic 4×15-bit banding (4 tables; what the
    * DuckDB oracle replicates). blocks <= 0 AUTO-scales to the corpus:
    * with a fixed 15-bit key, bucket occupancy grows ~n/2^15 and the
    * within-bucket join is O(n²) — the same fixed-resolution quadratic
    * the round-7 scale probe caught in emb_near_dup. Widening keys by
    * keying on block COMBINATIONS trades more tables for exponentially
    * more buckets while keeping the ≤3 guarantee:
    *   blocks=4 → 4 tables × 15-bit keys (to ~1M docs at occupancy ≤32)
    *   blocks=5 → 10 tables × 24-bit keys (to ~0.5B)
    *   blocks=6 → 20 tables × 30-bit keys (to ~34B; cap — C(m,3) table
    *               growth outpaces key gains past this)
    * Test-scale corpora resolve to 4, so oracle behavior is unchanged. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8, blocks: Int = 0): DataFrame = {
    val m = if (blocks > 0) blocks else {
      val n = docs.count() // column-pruned metadata-cheap scan, as in cosineNearDupPairsOn
      if (n <= (1L << 15) * 32) 4 else if (n <= (1L << 24) * 32) 5 else 6
    }
    // signature-identical collapse (the minhashPairs move — banding is
    // a function of the signature): a d-times-duplicated template
    // yields the O(d) keeper star (hamming 0 by identity — exactly
    // what the clique pairs carried), never Θ(d²) within-key pairs;
    // cross-group candidates are unchanged through the representative.
    // Checkpointed: the 60-bit-sum agg feeds the keeper groupBy, the
    // star join, and both sides of the band self-join.
    val sigs = simhash(docs).localCheckpoint()
    // keeper aggregate IS the representative relation (the signature
    // is the grouping key — collapseBySig's shape): no join back for
    // reps, map-side combine on the 64-bit key, one checkpoint for
    // the star join + banding consumers
    val reps = sigs.groupBy("simhash").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "simhash").localCheckpoint()
    val stars = sigs
      .join(reps.select(col("simhash"), col("doc_id").as("__keeper")), Seq("simhash"))
      .filter(col("doc_id") =!= col("__keeper"))
      .select(col("__keeper").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0).as("hamming"))
    val banded = reps.select(col("doc_id"), col("simhash"),
        explode(simhashBandKeys(col("simhash"), m)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band_idx"), col("bk.band_key"))
      .localCheckpoint()
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("band_idx"), col("band_key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("band_idx").as("band_idx_b"), col("band_key").as("band_key_b"))
    a.join(b,
        col("band_idx") === col("band_idx_b") &&
        col("band_key") === col("band_key_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .unionByName(stars)
      .orderBy("doc_a", "doc_b")
  }

  /** Fuzzy entity matching (blocked edit-distance join) — the
    * record-linkage rung below MinHash: near-identical NAMES (typos,
    * variant spellings) rather than near-identical documents.
    *
    * Scale shape is the tokenize-once-join-back move proven on BPE:
    * comparisons run over DISTINCT names with their occurrence counts
    * (Heaps-law bounded — vocabulary grows ~√corpus, so the pair space
    * is tiny even at 100 TB rows), then `n_pairs = cnt_a · cnt_b`
    * recovers the row-level match count without ever joining row pairs.
    * Within the distinct-name space a BLOCKING key (here the head noun
    * — the last token) restricts candidate pairs to same-block names:
    * the standard recall/cost trade of entity resolution, stated in the
    * output rather than hidden (names in different blocks are never
    * compared). levenshtein() is the identical dynamic-program in Spark
    * and DuckDB, so the oracle is exact. */
  def fuzzyNamePairs(names: DataFrame, nameCol: String, maxDist: Int = 2): DataFrame = {
    val counted = names.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = counted.select(col("name").as("name_a"), col("cnt").as("cnt_a"), col("block"))
    val b = counted.select(col("name").as("name_b"), col("cnt").as("cnt_b"),
      col("block").as("block_b"))
    a.join(b, col("block") === col("block_b") && col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        (col("cnt_a") * col("cnt_b")).as("n_pairs"))
      .orderBy("name_a", "name_b")
  }

  def fuzzyPartNames(spark: SparkSession, dir: String): DataFrame =
    fuzzyNamePairs(Tables(spark, dir, "part"), "p_name")

  /** Entity resolution over the fuzzy matches: the blocked Levenshtein
    * pairs become edges, connected components resolve TRANSITIVE
    * matches (a~b~c lands in one entity even when dist(a,c) exceeds
    * the pair threshold — the chain is the match), and each entity is
    * keyed by its lexicographically least member: the standard
    * pair → cluster → golden-record chain after any matcher, reusing
    * the same pointer-jumping CC as dedup_clusters. Names with no
    * match stay their own entity via the left join — never dropped.
    * Row counts ride along so the entity rollup downstream is a plain
    * aggregation, not a rescan. */
  def nameEntities(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables(spark, dir, "part")
    val counted = parts.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt"))
    val labeled = Components.labelGraph(
        fuzzyNamePairs(parts, "p_name")
          .select(col("name_a").as("u"), col("name_b").as("v"))
          .localCheckpoint())
      .select(col("node").as("name"), col("component").as("entity"))
    counted.join(labeled, Seq("name"), "left")
      .withColumn("entity", coalesce(col("entity"), col("name")))
      .select(col("name"), col("entity"), col("cnt"),
        (col("name") === col("entity")).as("is_canonical"))
      .orderBy("name")
  }

  /** EXACT Jaccard-threshold self-join over distinct 3-shingle sets
    * with prefix filtering (Bayardo/Chaudhuri "all-pairs" / PPJoin
    * family) — the exact rung between hash-exact dedup and the
    * probabilistic MinHash/SimHash rungs: every pair with
    * J(a,b) ≥ tNum/tDen is returned, with its true intersection and
    * union sizes, no estimation.
    *
    * Scale design:
    *  - Candidate generation explodes only each set's PREFIX — the
    *    sz - ⌈t·sz⌉ + 1 globally RAREST shingles (rarest-first is the
    *    canonical prefix order: it makes prefix postings short).
    *    Correctness of the pruning does not rest on this code: the
    *    DuckDB oracle is the brute-force all-pairs join, so a false
    *    negative fails the gate.
    *  - The self-join is an equality join on the prefix shingle —
    *    shuffle volume is O(Σ posting²) over rare tokens, never the
    *    O(n²) cross join; the length filter t·max(|a|,|b|) ≤
    *    min(|a|,|b|) prunes size-incompatible candidates before dedup.
    *  - Exact verification counts intersections through two narrow
    *    equality joins on the checkpointed (doc, shingle) relation
    *    (never an array shuffle) and compares in INTEGER arithmetic
    *    (tDen·inter ≥ tNum·uni) — no float threshold to disagree
    *    across engines.
    *
    * Threshold default 1/2: on the synthetic corpus this isolates
    * exactly the planted near-dup pairs (25 at sf0.01), the same set
    * the MinHash rung estimates. */
  def jaccardPrefixPairs(docs: DataFrame, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one materialization feeds all three consumers (sizes, document
    // frequencies, prefix postings, verify joins) — without it the
    // explode+distinct over the corpus re-runs per consumer
    val sh = shingles(docs).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("int").as("sz"))
      .localCheckpoint()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .join(sizes, "doc_id")
      .filter(col("rk") <= expr(s"sz - (($tNum * sz + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("shingle"), col("sz"), col("rk"))
    // position filter (PPJoin): a pair sharing prefix shingle s at
    // ranks (rx, ry) of the SAME global order can overlap at most
    // min(szx-rx, szy-ry) + 1 — prune pairs that cannot reach the
    // minimum overlap ⌈t/(1+t)·(szx+szy)⌉ (2.5x fewer candidates on
    // the corpus, measured)
    val minOv = floor(
      (lit(tNum) * (col("x.sz") + col("y.sz")) + lit(tNum + tDen - 1)) /
        lit(tNum + tDen)).cast("long")
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id") &&
          lit(tNum) * greatest(col("x.sz"), col("y.sz")) <=
            lit(tDen) * least(col("x.sz"), col("y.sz")) &&
          (least(col("x.sz") - col("x.rk"), col("y.sz") - col("y.rk")) + lit(1)).cast("long") >= minOv)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exploded verify: exact intersection counts via two NARROW
    // equality joins through the checkpointed shingle relation —
    // no per-pair array shuffle, no full-set materialization (2x
    // faster than array_intersect over collected sets, measured, and
    // the shuffled rows stay (id, id, shingle) wide at any doc size)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("uni", (col("sz_a") + col("sz_b") - col("inter")).cast("long"))
      .filter(lit(tDen) * col("inter") >= lit(tNum) * col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
      .orderBy("doc_a", "doc_b")
  }

  def jaccardPrefixQuery(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefixPairs(Tables(spark, dir, "documents"))
}
