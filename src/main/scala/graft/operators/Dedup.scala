package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines.
  *
  * Scale notes (the point of each design):
  *  - exact dedup is one hash shuffle on the dedup key;
  *  - MinHash/SimHash candidate generation is an equi-join on band keys —
  *    co-partitioned shuffle, no cartesian anywhere; candidate pairs are
  *    then verified with the exact measure, so LSH parameters only affect
  *    recall/cost, never correctness of survivors;
  *  - at 100 TB you'd salt oversized LSH buckets and cap bucket width; the
  *    band-key join shape stays the same.
  */
object Dedup {

  /** Exact duplicate groups on a key (text or fingerprint): keeper =
    * min doc_id, n_copies per group. One hash aggregation. */
  def exactGroups(docs: DataFrame, key: Column): DataFrame =
    docs.groupBy(key.as("dedup_key"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** SPAN-level exact dedup, the C4 policy at word-tile granularity:
    * "discard all but one of any [span] occurring more than once in the
    * data set" (Raffel et al., JMLR 2020 §2.2 — C4 uses three-sentence
    * spans; this corpus has no sentence structure, so spans are
    * non-overlapping k-word tiles). Unlike whole-document dedup
    * ([[exactGroups]]) this removes REPEATED PASSAGES — boilerplate
    * headers, license blocks, navigation chrome — from otherwise unique
    * documents.
    *
    * Corpus-wide keep rule: a tile's FIRST occurrence (lowest
    * (doc_id, tile_no)) survives; every other occurrence is dropped and
    * the document's text is rebuilt from its surviving tiles in order.
    * Returns (doc_id, n_tiles, n_kept, clean_text) for EVERY input
    * document (docs shorter than k words: 0 tiles, empty clean_text).
    *
    * Scale shape: tile extraction is partition-local (posexplode + slice,
    * all codegen); the keep rule is one min-struct aggregation on the tile
    * key — partial map-side combine absorbs boilerplate skew (a tile
    * repeated millions of times pre-aggregates to one row per map task,
    * the exact hot-key profile this op exists to remove) — plus one
    * equi-join back; reconstruction re-shuffles by doc_id. No window over
    * the tile key: a sort-based window has no partial aggregation, so the
    * hottest boilerplate tile would serialize through one task. */
  def tileDedup(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"tile width must be >= 1, got $k")
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val tiles = tileRows(base, k)
    val keepers = tiles.groupBy("tile")
      .agg(min(struct(col("doc_id"), col("tile_no"))).as("first"))
      .select(col("tile"), col("first.doc_id").as("keep_doc"),
        col("first.tile_no").as("keep_no"))
    val marked = tiles.join(keepers, "tile")
      .withColumn("keep",
        col("doc_id") === col("keep_doc") && col("tile_no") === col("keep_no"))
    rebuildFromMarked(base, marked)
  }

  /** DF-THRESHOLD span removal — the boilerplate rule of CCNet/RefinedWeb
    * (Wenzek et al. 2020 §3.1 drop paragraphs duplicated across shards;
    * Penedo et al. 2023 §4.2 line-level "appears in ≥ N documents"):
    * a k-word tile found in `minDf` or more DISTINCT documents is
    * boilerplate and is dropped from EVERY document — including its first
    * occurrence, which is the policy difference from [[tileDedup]]'s
    * keep-one rule. Repeated chrome (headers, license blocks, navigation)
    * carries no training signal in any copy; a genuinely quoted passage
    * (df < minDf) survives everywhere.
    *
    * Same scale shape as [[tileDedup]]: partition-local tile extraction;
    * the df census is count(DISTINCT doc) per tile — two-phase hash
    * aggregation with map-side partial dedup of (tile, doc) pairs, so a
    * tile repeated many times WITHIN one doc costs one row per map task.
    * The hot set (df ≥ minDf) is by construction the small tail of the
    * census; the mark-back join broadcasts it when AQE sees it small. At
    * 100 TB swap the census for approx_count_distinct if a ±2% df
    * threshold is acceptable — the join shape is unchanged. */
  def tileDedupDf(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    require(k >= 1, s"tile width must be >= 1, got $k")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val tiles = tileRows(base, k)
    val hot = tiles.groupBy("tile")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("tile"), lit(true).as("__hot"))
    val marked = tiles.join(hot, Seq("tile"), "left")
      .withColumn("keep", col("__hot").isNull)
    rebuildFromMarked(base, marked)
  }

  /** Non-overlapping k-word tiles per doc: (doc_id, tile_no, tile),
    * 1-based tile_no, trailing partial tile discarded. Partition-local
    * (posexplode + slice, all codegen). */
  private def tileRows(base: DataFrame, k: Int): DataFrame =
    base
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n_tiles", (size(col("ws")) / k).cast("int"))
      .filter(col("n_tiles") >= 1)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), col("n_tiles"))).as("tile_no"))
      .select(col("doc_id"), col("tile_no"),
        array_join(slice(col("ws"), (col("tile_no") - 1) * k + 1, lit(k)), " ")
          .as("tile"))

  /** Rebuild (doc_id, n_tiles, n_kept, clean_text) for EVERY input doc
    * from per-tile keep marks; docs shorter than k words get 0 tiles and
    * empty clean_text. */
  private def rebuildFromMarked(base: DataFrame, marked: DataFrame): DataFrame = {
    val rebuilt = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_tiles"),
      sum(col("keep").cast("long")).as("n_kept"),
      array_join(
        sort_array(collect_list(when(col("keep"),
          struct(col("tile_no"), col("tile"))))).getField("tile"),
        " ").as("clean_text"))
    base.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tiles"), lit(0L)).as("n_tiles"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Position-keyed word-k-shingles per doc: one codegen'd
    * [[graft.functions.WordKGrams]] pass over the split array, exploded
    * with positions — ZERO shuffle (the window-`lead` form this replaces
    * paid a per-doc hash-partition + sort carrying every word row, and its
    * pre-shuffled shape forfeited map-side partial aggregation in every
    * downstream groupBy(doc_id)). */
  def posShingleRows(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(wordKGrams(words(col("text")), k)).as(Seq("pos", "sh")))

  /** The window-`lead` relational form of [[posShingleRows]] — retained as
    * the independent reference implementation for the equivalence spec. */
  private[graft] def posShingleRowsWindowed(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = (1 until k).map(j => lead(col("w0"), j).over(w).as(s"w$j"))
    docs
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "w0")))
      .select(Seq(col("doc_id"), col("pos"), col("w0")) ++ parts: _*)
      .filter(col(s"w${k - 1}").isNotNull) // complete k-shingles only
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until k).map(j => col(s"w$j")): _*).as("sh"))
  }

  /** Distinct word-k-shingle SETS per doc as rows. */
  def shingleRows(docs: DataFrame, k: Int): DataFrame =
    posShingleRows(docs, k).drop("pos").distinct()

  /** Winnowed rolling-hash document fingerprints — the MOSS selection
    * scheme (Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD 2003): hash every k-shingle in
    * document order, slide a window of `w` consecutive hashes, keep each
    * window's minimum. Guarantees: two documents sharing a run of at least
    * w+k-1 words share at least one fingerprint, while only ~2/(w+1) of all
    * shingle hashes are retained — a tunable sample with a matching
    * guarantee, which a plain "every nth shingle" sample lacks. Hashes are
    * md5 hex strings min'd lexicographically: deterministic and
    * engine-portable (binary ASCII compare — a DuckDB oracle states the
    * identical window min). Relational shape: shingle construction is
    * shuffle-free ([[posShingleRows]]); the min-over-w window's per-doc
    * sort is the only shuffle; downstream joins are fingerprint
    * equi-joins. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    posShingleRows(docs, k)
      .withColumn("h", md5(col("sh")))
      .withColumn("fp", min(col("h")).over(win))
      // complete windows only: keeps the retained set a pure function of
      // the shingle sequence (and of the oracle's identical frame)
      .withColumn("wsize", count(lit(1)).over(win))
      .filter(col("wsize") === w)
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Drop join-key buckets wider than `maxBucket` rows from a candidate-
    * generation table — the hot-key guard for every LSH-style equi-join
    * here. One degenerate key (empty docs, boilerplate headers, an
    * adversarial constant) otherwise joins quadratically in its bucket
    * width; a key shared by a MILLION docs contributes 5·10¹¹ candidate
    * pairs on its own. The cap applies to CANDIDATE GENERATION only —
    * verification stays exact — so it trades recall only for pairs whose
    * every collision is a hot key, i.e. boilerplate-only overlap. Cost:
    * one aggregate + left-anti join on the key columns (same shuffle key
    * the candidate join needs anyway). */
  private def capBuckets(rows: DataFrame, keyCols: Seq[String],
      maxBucket: Long): DataFrame = {
    val hot = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_w"))
      .filter(col("bucket_w") > maxBucket)
      .select(keyCols.map(col): _*)
    rows.join(hot, keyCols, "left_anti")
  }

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints — rolling-
    * hash near-dup candidates. Pure equi-join on the fingerprint value (no
    * cartesian); at 100 TB the fingerprint table is the narrow persisted
    * artifact (~2/(w+1) × shingle count rows). `maxFpDf` drops fingerprints
    * held by more than that many documents before the pair join
    * ([[capBuckets]]): boilerplate runs shared corpus-wide are exactly the
    * hot keys whose bucket joins quadratically, and their shared counts say
    * "same template", not "same document". */
  def winnowSharedPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxFpDf: Option[Long] = None): DataFrame =
    winnowSharedPairsFromFingerprints(
      winnowFingerprints(docs, k, w), minShared, maxFpDf)

  /** Persist the winnowed fingerprint table — the once-per-corpus pass of
    * the rolling-hash dedup pipeline at 100 TB (the ~2/(w+1)-of-shingles
    * narrow artifact; mirror of [[writeMinhashSignatures]]). */
  def writeWinnowFingerprints(docs: DataFrame, path: String, k: Int = 3,
      w: Int = 4): Unit =
    winnowFingerprints(docs, k, w).write.mode("overwrite").parquet(path)

  /** Pair generation from a stored fingerprint table (written once by
    * [[writeWinnowFingerprints]]) — no re-shingling of the corpus.
    * Identical output to [[winnowSharedPairs]] for the same (k, w). */
  def winnowSharedPairsFromFingerprints(fingerprints: DataFrame,
      minShared: Long = 2L, maxFpDf: Option[Long] = None): DataFrame = {
    val fp = maxFpDf.fold(fingerprints)(capBuckets(fingerprints, Seq("fp"), _))
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One MinHash signature array per document: (doc_id, sig), `sig` an
    * ARRAY<BIGINT> of `numHashes` values and never null — a document with
    * no complete k-shingle has no row.
    *
    * The signature is the codegen'd [[graft.functions.MinhashSignature]]
    * kernel over the document's `wordKGrams` array: one fused pass per doc
    * row, no shingle rows. A doc_id on several rows (a re-crawled document)
    * is ONE document: its rows' signatures merge by element-wise min, which
    * is the signature of the union of their shingle sets. The merge is a
    * doc-grain aggregate (one signature array per row); at one row per id
    * it takes the guarded branch and never evaluates the element-wise fold.
    *
    * `maxShingleDf` prunes shingles present in more than that many
    * DOCUMENTS from the signature input — stopword n-grams ("of the and" in
    * every doc) otherwise minhash to hot values that produce oversized band
    * buckets. Since the prune applies to CANDIDATE GENERATION only (verify
    * is exact Jaccard over the full shingle sets), it trades recall only
    * for pairs whose entire overlap is corpus-stopword shingles. That arm
    * explodes the shingles once, drops the hot ones, and collects each
    * doc's survivors before the same kernel signs them. */
  private def signatureArrays(docs: DataFrame, k: Int, numHashes: Int,
      maxShingleDf: Option[Long]): DataFrame = maxShingleDf match {
    case None =>
      docs
        .select(col("doc_id"),
          minhashSignature(wordKGrams(words(col("text")), k), numHashes).as("sig"))
        .groupBy(col("doc_id")).agg(collect_list(col("sig")).as("sigs"))
        .filter(size(col("sigs")) > 0)
        .select(col("doc_id"),
          when(size(col("sigs")) === 1, col("sigs")(0)).otherwise(
            transform(col("sigs")(0), (_, i) =>
              array_min(transform(col("sigs"), s => s(i))))).as("sig"))
    case Some(t) =>
      val sh = posShingleRows(docs, k).drop("pos")
      val cold = sh.distinct().groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= t).select("sh")
      sh.join(cold, "sh")
        .groupBy(col("doc_id")).agg(collect_list(col("sh")).as("grams"))
        .select(col("doc_id"), minhashSignature(col("grams"), numHashes).as("sig"))
  }

  /** Per-document MinHash signature table (doc_id, m0..m{numHashes-1}) —
    * the stored layout: [[signatureArrays]] with the array spread over one
    * BIGINT column per hash. Values are (h·a_i + b_i) mod (2³¹−1) with
    * h = xxhash64(shingle) & 0x7FFFFFFF, bit-identical to the relational
    * `min(pmod(h·a_i + b_i, p))` aggregate it replaces.
    *
    * This is the table to persist at 100 TB (one narrow row per doc): write
    * it once with [[writeMinhashSignatures]] and feed every later dedup run
    * from [[minhashNearDupsFromSignatures]] instead of re-shingling the
    * corpus. [[minhashNearDups]] bands straight from the arrays and never
    * builds these columns. */
  def minhashSignatures(
      docs: DataFrame,
      k: Int = 3,
      numHashes: Int = 128,
      maxShingleDf: Option[Long] = None): DataFrame =
    signatureArrays(docs, k, numHashes, maxShingleDf).select(
      col("doc_id") +: (0 until numHashes).map(i => col("sig")(i).as(s"m$i")): _*)

  /** Persist the signature table — the once-per-corpus pass of the 100 TB
    * dedup pipeline. */
  def writeMinhashSignatures(docs: DataFrame, path: String, k: Int = 3,
      numHashes: Int = 128, maxShingleDf: Option[Long] = None): Unit =
    minhashSignatures(docs, k, numHashes, maxShingleDf)
      .write.mode("overwrite").parquet(path)

  /** Band-key rows (doc_id, band, key) of signature arrays (doc_id, sig):
    * one codegen'd [[graft.functions.MinhashBandKeys]] call per doc,
    * exploded with band positions — the LSH bucketing of every caller. */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // bands must tile the signature exactly: bands > numHashes would make
    // every band key the hash of "" (the self-join degenerates to a full
    // n² cross product with no error), and a non-dividing count silently
    // ignores trailing minhashes, lowering recall below the documented
    // 1-(1-t^r)^b curve
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    sig.select(col("doc_id"),
      posexplode(minhashBandKeys(col("sig"), bands)).as(Seq("band", "key")))
  }

  /** Band-key rows of a stored signature table (doc_id, m0..m{n-1}). */
  private def bandKeyRows(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    bandRows(sig.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig")),
      numHashes, bands)

  /** The LSH candidate self-join shape — one place, so a future change to
    * the candidate join (e.g. a hot-bucket cap) lands on every caller at
    * once. Emits id-ordered pairs, NOT deduplicated (multi-band collisions
    * repeat a pair; callers distinct). */
  private def bandSelfJoin(bandsDf: DataFrame): DataFrame =
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))

  /** LSH band candidates from a signature table: band the signature,
    * equi-join on (band, key). */
  def minhashCandidates(sig: DataFrame, numHashes: Int = 128,
      bands: Int = 32): DataFrame =
    bandSelfJoin(bandKeyRows(sig, numHashes, bands)).distinct()

  /** One distinct-shingle set per document: (doc_id, shingles), from one
    * `array_distinct(wordKGrams(...))` projection per doc row. A doc_id on
    * several rows gets the union of their sets (a doc-grain merge, never a
    * shingle-grain one); a document with no complete k-shingle has no row. */
  private[operators] def shingleSets(docs: DataFrame, k: Int): DataFrame =
    docs.groupBy(col("doc_id"))
      .agg(array_distinct(flatten(collect_list(
        array_distinct(wordKGrams(words(col("text")), k))))).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Exact-Jaccard verification of candidate pairs against the corpus's
    * full (unpruned) shingle sets. The candidate PAIR table — tiny
    * (banded/bucketed survivors) but carrying the whole candidate
    * pipeline as lineage — materializes once, for two reasons: the plan
    * below consumes it three times (participant ids + both join sides),
    * and the participant semi-join prunes the corpus BEFORE the shingle
    * sets are built, so verification costs O(|participants|), not
    * O(corpus) — the incrementalNearDups discipline applied to every
    * caller. */
  private def verifyJaccard(candidates: DataFrame, docs: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val cands = candidates.localCheckpoint()
    val ids = cands.select(col("doc_id_1").as("doc_id"))
      .union(cands.select(col("doc_id_2").as("doc_id"))).distinct()
    val touched = docs.join(ids, Seq("doc_id"), "left_semi")
    val sh = shingleSets(touched, k)
    // materialize the (even tinier) verified pairs, then RELEASE the
    // candidate blocks deterministically: incrementalNearDups calls this
    // per micro-batch, and without the unpersist each batch leaks one
    // checkpoint block set until the RDD happens to be GC'd, growing
    // executor storage over a long-lived stream
    val verified = cands
      .join(sh.withColumnRenamed("doc_id", "doc_id_1")
        .withColumnRenamed("shingles", "sh1"), "doc_id_1")
      .join(sh.withColumnRenamed("doc_id", "doc_id_2")
        .withColumnRenamed("shingles", "sh2"), "doc_id_2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_1", "doc_id_2", "jaccard")
      .localCheckpoint()
    unpersistLocalCheckpoint(cands)
    verified
  }

  /** MinHash+LSH near-duplicate pairs, verified by exact Jaccard.
    * shingle→minhash→band→bucket-join→exact-verify; returns
    * (doc_id_1, doc_id_2, jaccard) with jaccard ≥ threshold.
    *
    * With numHashes=128, bands=32 (r=4), recall at j=0.8 is
    * 1-(1-0.8⁴)³² ≈ 1-5e-8 — candidate generation is effectively lossless
    * at the threshold, and false candidates die in the exact verify.
    *
    * Per document the candidate side is two codegen'd kernels in one
    * projection (signature, then band keys) and a posexplode of the 32
    * keys; the 128 signature columns are never built. The verify side
    * reads only candidate participants. At 100 TB write the signatures out
    * once ([[writeMinhashSignatures]]) and run
    * [[minhashNearDupsFromSignatures]]. */
  def minhashNearDups(
      docs: DataFrame,
      k: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxShingleDf: Option[Long] = None): DataFrame = {
    // spread ONCE at entry (r13 opt, Tables.spreadCpu): a single-row-group
    // corpus scans as one task, serializing the signature kernel AND the
    // verify side's shingle-set pass on one core. The shared
    // round-robin exchange is materialized once (AQE stage reuse) and both
    // the signature branch and the verify semi-join stream from it.
    // (r13 note — checkpointing the band-key table instead was measured
    // +14-24% on q_dedup_decisions at 32 AND 8 cores: AQE already reuses
    // the sig exchange across the self-join sides, so the barrier bought
    // nothing and cost two job rounds. Don't retry.)
    val d = graft.core.Tables.spreadCpu(docs)
    verifyJaccard(
      bandSelfJoin(bandRows(signatureArrays(d, k, numHashes, maxShingleDf),
        numHashes, bands)).distinct(),
      d, k, threshold)
  }

  /** The persisted-signature dedup path: candidates come from a stored
    * signature table (written once by [[writeMinhashSignatures]]); only
    * verification touches the corpus text. Identical output to the inline
    * path for the same parameters. */
  def minhashNearDupsFromSignatures(
      sig: DataFrame,
      docs: DataFrame,
      k: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    verifyJaccard(minhashCandidates(sig, numHashes, bands), docs, k, threshold)

  /** INCREMENTAL near-dup detection — the daily-crawl workflow: which of
    * the NEW batch's documents near-duplicate the existing corpus or each
    * other. The standing corpus participates only through its persisted
    * signature table ([[writeMinhashSignatures]]) — its text is never
    * re-shingled wholesale: new signatures band-join against old ones
    * (new×old) and against themselves (new×new), then exact verification
    * shingles ONLY the participant documents (a semi-join prunes `allDocs`
    * to candidate ids before any text processing). Per increment the cost
    * is O(|new| + |old signatures| + |candidates|), not O(|corpus|) — the
    * property that makes rolling dedup tractable at 100 TB.
    *
    * Returns (doc_id_1, doc_id_2, jaccard ≥ threshold) for pairs with at
    * least one NEW endpoint, id-ordered. A re-crawled document present on
    * both sides never pairs with itself. Old×old pairs are by definition
    * already known (they were new when first seen) and are not re-emitted.
    * After the run, append the new batch's signatures to the store to
    * close the loop. */
  def incrementalNearDups(
      newDocs: DataFrame,
      oldSig: DataFrame,
      allDocs: DataFrame,
      k: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    // the new batch's signatures feed three join scans (self-join twice,
    // new×old once); materialize the tiny band-key table once instead of
    // re-running the signature kernel per scan
    val nb = bandRows(
      signatureArrays(graft.core.Tables.spreadCpu(newDocs), k, numHashes,
        None),
      numHashes, bands).localCheckpoint()
    val ob = bandKeyRows(oldSig, numHashes, bands)
    val newNew = bandSelfJoin(nb)
    val newOld = nb.as("a")
      .join(ob.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_id_1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_id_2"))
    // participant pruning + candidate materialization live in
    // verifyJaccard now, shared by every caller. verifyJaccard is EAGER
    // (it returns a materialized checkpoint), so nb's blocks can be
    // released here — the per-micro-batch leak discipline again.
    val verified =
      verifyJaccard(newNew.union(newOld).distinct(),
        graft.core.Tables.spreadCpu(allDocs), k, threshold)
    unpersistLocalCheckpoint(nb)
    verified
  }

  /** Exact n-gram Jaccard over all pairs — the small-corpus baseline the
    * LSH path approximates. Pair generation via shingle-explode equi-join
    * (each shared shingle is a vote), so intersection counts come from a
    * co-partitioned join, not a cartesian; union sizes from per-doc counts. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingleRows(docs, k)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_id_1")
        .withColumnRenamed("n_sh", "n1"), "doc_id_1")
      .join(sizes.withColumnRenamed("doc_id", "doc_id_2")
        .withColumnRenamed("n_sh", "n2"), "doc_id_2")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n1") + col("n2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_1", "doc_id_2", "jaccard")
  }

  /** EXACT maximal shared word spans between document pairs — the
    * relational form of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, which uses a
    * suffix array): every maximal run of ≥ `minWords` consecutive words
    * two documents share, with its start offset in each. Whole-doc
    * near-dup measures (Jaccard, MinHash) cannot see a long verbatim
    * quote inside otherwise-different documents; this is the operator
    * that finds it — the remove-the-span (not drop-the-doc) dedup policy
    * of modern corpus curation.
    *
    * Algorithm: anchor on positional k-grams ([[posShingleRows]]) instead
    * of a suffix array — a shared span of `w` words is exactly a run of
    * `w−k+1` shared k-grams at consecutive positions on one DIAGONAL
    * (p1−p2 constant), so after the gram equi-join, classic
    * gaps-and-islands per (pair, diagonal) recovers every maximal span
    * exactly: island = p1 − row_number() over (pair, diag | order p1),
    * span length = island size + k − 1. Grams in more than `maxDf`
    * documents (boilerplate phrases — precisely the join keys whose
    * bucket is quadratic in df) are dropped from the join, so a reported
    * island is a maximal run of RARE grams: a hot gram inside a long
    * shared passage SPLITS it, and the sub-runs must each clear
    * `minWords` on their own (a span made entirely of hot grams vanishes
    * outright). That is the content-defined noise filter a span-dedup
    * pass wants — common phrases shouldn't bridge two coincidental
    * matches into one "span" — but callers scrubbing long verbatim
    * quotes that may CONTAIN common trigrams should raise `maxDf` (cost
    * grows with the pruned buckets' df²) or lower `minWords`, stated
    * deterministically so the oracle applies the identical rule.
    *
    * Scale shape: one zero-shuffle gram pass, a distinct+count df
    * aggregate on the same gram key the candidate join shuffles anyway,
    * the pruned equi-join (never a cartesian), and one window whose
    * partitions are single (pair, diagonal) match lists — bounded by
    * per-pair overlap, never corpus-sized. Output starts are 0-based
    * word offsets into the normalized token stream.
    *
    * Reference corollary: blueflood has no text tier; this extends the
    * training-pipeline surface alongside [[minhashNearDups]]. */
  def sharedSpans(docs: DataFrame, k: Int = 3, minWords: Int = 20,
      maxDf: Long = 50L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minWords >= k, s"minWords must be >= k=$k, got $minWords")
    // spread at entry (r13 opt, Tables.spreadCpu): the positional-gram
    // explode above a one-row-group scan otherwise runs single-task; the
    // one round-robin exchange is shared by every gram branch via AQE
    // stage reuse. (Checkpointing the df≤maxDf key set instead measured
    // +9-16% at both core counts — the barrier again; AQE already reuses
    // the census exchange across the self-join sides. Don't retry.)
    val g = posShingleRows(graft.core.Tables.spreadCpu(docs), k)
    val dfs = g.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
    // NOT checkpointed: `rare` is a corpus-scale positional-gram stream
    // (measured ~20% faster materialized at sf0.1, but a multi-TB local
    // storage burst at target scale — the recompute is two codegen gram
    // passes, the cheap side of that trade; cf. minhashNearDups)
    val rare = g.join(dfs.filter(col("df") <= maxDf).select("sh"), "sh")
    val m = rare.as("a").join(rare.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.pos").as("p1"), col("b.pos").as("p2"))
      .withColumn("diag", col("p1") - col("p2"))
    val w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    m.withColumn("isl", col("p1") - row_number().over(w))
      .groupBy("d1", "d2", "diag", "isl")
      .agg(min("p1").as("start_1"), min("p2").as("start_2"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("len_words"))
      .filter(col("len_words") >= minWords)
      .select(col("d1").as("doc_id_1"), col("d2").as("doc_id_2"),
        col("start_1"), col("start_2"), col("len_words"))
  }

  /** The remove-the-span dedup policy over [[sharedSpans]]: rewrite the
    * corpus with every LATER copy of a shared span scrubbed out (the
    * keep-lowest-doc-id convention of [[exactGroups]] /
    * keep-best-per-cluster — `doc_id_1 < doc_id_2`, so doc_id_2 loses its
    * copy), leaving the rest of each document intact. This is the policy
    * Lee et al. actually apply (cut the duplicated substring, keep the
    * document) — whole-doc dropping throws away the unique remainder.
    *
    * Output: (doc_id, n_words_removed, clean_text) for EVERY input
    * document; `clean_text` is the NORMALIZED token stream re-joined with
    * single spaces (span offsets are positions in that stream, so the
    * rewrite is exact there; carrying raw-text byte offsets through
    * [[graft.functions.TextFunctions.normalized]] would be a different,
    * lossier contract). Docs that lose every word emit `""`.
    *
    * Shape: overlapping removal ranges union via one interval-merge window
    * over the SPAN table (tiny — pairs that share ≥ minWords runs), kept
    * gaps derive from the merged ranges by lag + one tail join, and the
    * rewrite itself is per-row: a handful of `slice`s of the word array
    * flattened and re-joined. The corpus-wide pass is a map — only span
    * participants touch a shuffle, and only their interval lists (not
    * their words) go through it. */
  def removeSharedSpans(docs: DataFrame, k: Int = 3, minWords: Int = 20,
      maxDf: Long = 50L): DataFrame = {
    val rem = sharedSpans(docs, k, minWords, maxDf)
      .select(col("doc_id_2").as("doc_id"),
        col("start_2").cast("long").as("s"),
        (col("start_2").cast("long") + col("len_words")).as("e"))
    // union overlapping/adjacent [s,e) ranges: gaps-and-islands on the
    // running max end
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    // materialize once: `merged` is tiny (span participants only) but its
    // lineage is the whole span-detection pipeline, and three branches
    // below consume it (the hammingNearDups/incrementalNearDups
    // materialize-once discipline)
    val merged = rem
      .withColumn("fresh",
        when(col("s") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("grp", sum("fresh").over(w))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("s"), max("e").as("e"))
      .localCheckpoint()
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    // kept gaps: before each merged range, plus the tail after the last
    val w2 = Window.partitionBy("doc_id").orderBy("s")
    val interior = merged
      .withColumn("ks", coalesce(lag("e", 1).over(w2), lit(0L)))
      .withColumn("klen", col("s") - col("ks"))
      .filter(col("klen") > 0)
      .select("doc_id", "ks", "klen")
    val tail = merged.groupBy("doc_id").agg(max("e").as("ks"))
      .join(base.select(col("doc_id"), size(col("ws")).cast("long").as("nw")),
        "doc_id")
      .withColumn("klen", col("nw") - col("ks"))
      .filter(col("klen") > 0)
      .select("doc_id", "ks", "klen")
    val keeps = interior.unionByName(tail)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("ks"), col("klen")))).as("kp"))
    val removed = merged.groupBy("doc_id")
      .agg(sum(col("e") - col("s")).as("n_removed"))
    base
      .join(removed, Seq("doc_id"), "left")
      .join(keeps, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("n_removed").isNull, array_join(col("ws"), " "))      // untouched
          .when(col("kp").isNull, lit(""))                             // fully removed
          .otherwise(array_join(flatten(transform(col("kp"),
            g => slice(col("ws"), g("ks").cast("int") + 1,
              g("klen").cast("int")))), " ")))
      .select(col("doc_id"),
        coalesce(col("n_removed"), lit(0L)).as("n_words_removed"),
        col("clean_text"))
  }

  /** Streaming exact dedup — the ingest-time member of the dedup family:
    * first arrival of each key wins, duplicates arriving within
    * `stateRetention` of it are dropped, and the key's state is EVICTED
    * once the event-time watermark passes (bounded state — the property
    * that makes streaming dedup viable over an unbounded corpus feed;
    * a plain streaming `dropDuplicates` accumulates keys forever). A
    * duplicate arriving after eviction passes through: ingest-time dedup
    * bounds the duplicate rate cheaply, the batch operators above
    * ([[exactGroups]], [[minhashNearDups]]) remain the exhaustive pass —
    * the same two-tier discipline as the rollup cascade's
    * streaming-then-recompute split.
    *
    * `key` is any deterministic column over the record — `text` for
    * byte-exact dedup, `TextFunctions.fingerprint(text)` for
    * word-reorder-insensitive dedup. Works on a streaming DataFrame with
    * an event-time column; output carries the input columns unchanged. */
  def streamingDedupKeepFirst(docs: DataFrame, key: Column, eventTime: Column,
      stateRetention: String = "10 minutes"): DataFrame =
    docs.withColumn("__dedup_key", key)
      .withColumn("__dedup_ts", eventTime)
      .withWatermark("__dedup_ts", stateRetention)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__dedup_key", "__dedup_ts")

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame. The checkpointed RDD is reachable only through the
    * `LogicalRDD` leaf of the analyzed plan; without this, every iteration
    * of a checkpoint-per-round loop leaks one cached label set. */
  private[operators] def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
    }

  /** Connected components over a near-duplicate pair graph: every document
    * gets a `cluster_id` = the minimum doc_id reachable from it (documents
    * in no pair are their own singleton cluster). This is the transitive
    * closure a keep-one-per-cluster dedup policy actually needs — pairwise
    * keep-lowest ([[graft.api.PipelineQueries]] `q_dedup_decisions`) can
    * drop BOTH members of a chain a–b–c where only (a,b) and (b,c) matched.
    *
    * Algorithm: iterative min-label propagation — each round every vertex
    * takes the min of its own label and its neighbors' labels (one
    * equi-join + one min-aggregate per round, both shuffling on doc_id), to
    * a fixpoint. Rounds needed = graph diameter, and near-dup graphs are
    * unions of small-diameter cliques/chains, so this converges in a
    * handful of rounds. For adversarial long-chain graphs, rounds beyond
    * `shortcutAfter` add POINTER JUMPING (label ← label-of-label, the
    * path-halving step of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014): the distance to a component's
    * minimum then halves per round, so convergence is O(log diameter)
    * overall while typical clique-shaped graphs never pay the extra join.
    * Each round's result is `localCheckpoint`ed to truncate lineage (the
    * plan would otherwise double per iteration), and convergence is
    * detected with a `limit(1)` existence probe, not a full count.
    *
    * SMALL-GRAPH FAST PATH: when the pair list itself (not the corpus)
    * holds at most `maxLocalEdges` edges, the components are solved with
    * an exact driver-side union-find instead — at that size the loop's
    * per-round scheduling cost dwarfs the actual work (a handful of
    * shuffle rounds over a few thousand rows). This is the standard
    * hybrid (GraphFrames and friends finish small components locally):
    * the distributed loop is the ≫driver-memory path, the union-find the
    * everyday one — near-dup pair graphs are a vanishing fraction of the
    * corpus, so even 100 TB corpora routinely land under the default
    * 1M-edge bound. Results are identical (specs force each path and
    * compare); `maxIters`/`shortcutAfter` only govern the loop, so set
    * `maxLocalEdges = 0` to exercise budget semantics. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      maxIters: Int = 50, shortcutAfter: Int = 4,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    val fwd = pairs.select(col("doc_id_1").cast("long").as("src"),
      col("doc_id_2").cast("long").as("dst"))
      .persist()
    try {
      // ONE bounded action decides the path AND fetches the edges (r14 opt,
      // guide §5 driver round-trips): `limit(bound+1).collect()` replaces the
      // former `count()` + `collect()` pair — the count's separate
      // aggregation rounds over the whole pair pipeline are gone, and the
      // overflow case (row bound+1 exists) falls through to the distributed
      // loop having shipped at most bound+1 rows to the driver. A bound at
      // or above Int.MaxValue cannot express the +1 probe as a limit, so it
      // keeps the two-action form (never hit with the 1M default).
      val localEdges: Option[Array[org.apache.spark.sql.Row]] =
        if (maxLocalEdges <= 0) None
        else if (maxLocalEdges + 1 <= Int.MaxValue) {
          val probe = fwd.limit((maxLocalEdges + 1).toInt).collect()
          if (probe.length <= maxLocalEdges) Some(probe) else None
        } else if (fwd.count() <= maxLocalEdges) Some(fwd.collect())
        else None
      localEdges match { case Some(rows) =>
        val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        edges.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val (ra, rb) = (find(a), find(b))
          // attach the larger root under the smaller: each component's
          // root IS its minimum member, matching the loop's min-label
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val spark = pairs.sparkSession
        import spark.implicits._
        val labels = parent.keys.toSeq.map(k => (k, find(k)))
          .toDF("doc_id", "label")
        nodes.select(col("doc_id").cast("long").as("doc_id"))
          .join(broadcast(labels), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("cluster_id"))
      case None =>
        connectedComponentsLoop(fwd, nodes, maxIters, shortcutAfter)
      }
    } finally fwd.unpersist(blocking = false)
  }

  /** Per-round changed-label counts of the last [[connectedComponentsLoop]]
    * run on this JVM — diagnostic only (specs assert the round input
    * SHRINKS as components settle; not meaningful under concurrent runs). */
  @volatile private[graft] var lastActiveCounts: Vector[Long] = Vector.empty

  /** The distributed min-label-propagation loop behind
    * [[connectedComponents]] — see its scaladoc for the algorithm.
    *
    * DELTA PROPAGATION: only labels that CHANGED in the previous round
    * send messages. A min-label once delivered is absorbed by the
    * neighbor's min-aggregate, so an unchanged sender can only repeat
    * itself — skipping it is lossless (the classic delta-iteration
    * argument; Flink's workset iterations are built on it). As components
    * settle, the per-round join input collapses from |participants| to
    * |still-active frontier| — on a long-tail graph the last rounds touch
    * a vanishing sliver of the edge set. NOTE this is deliberately NOT the
    * "drop edges whose endpoints share a label" prune: same-label dropping
    * is only sound with the star-rewiring of Kiveris et al.'s
    * large-star/small-star (the label proves shared membership, not that
    * the edge is redundant in the REMAINING graph — dropping a bridge this
    * way can split a component). Sender-side pruning needs no such caveat. */
  private def connectedComponentsLoop(fwd: DataFrame, nodes: DataFrame,
      maxIters: Int, shortcutAfter: Int): DataFrame = {
    // duplicate edges are tolerated (the min-aggregates absorb them), so no
    // distinct pass over the edge list
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // Only pair PARTICIPANTS enter the loop: every other document is its
    // own singleton cluster by construction. At corpus scale the near-dup
    // subgraph is a vanishing fraction of the documents table — the bulk
    // of a 100 TB corpus never ships through an iteration shuffle.
    // Seeding with min(self, neighbors) IS round one of the propagation as
    // a single aggregation (no join); the loop then starts at round two.
    var ckpt = und.groupBy(col("src").as("doc_id"))
      .agg(min(least(col("src"), col("dst"))).as("label"))
      .localCheckpoint()
    // the seed pass materialized und's own cache — fwd's blocks are dead
    // weight from here on (every loop read goes through und); release them
    // now rather than at the caller's finally, or peak storage during the
    // iterations is 3× the edge list instead of 2×
    fwd.unpersist(blocking = false)
    var labels = ckpt
    // the seed assigned every participant a fresh label: all of them send
    // in round one; thereafter only the previous round's changed rows do
    var changed = ckpt
    val activeCounts = Vector.newBuilder[Long]
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val msgs = und.join(changed, und("src") === changed("doc_id"))
        .select(und("dst").as("doc_id"), changed("label"))
      val prop0 = labels.union(msgs)
        .groupBy("doc_id").agg(min("label").as("label"))
      // pointer jumping past the first rounds: label ← label(label). Every
      // label value is itself a participant's doc_id, so the lookup is a
      // self-join; min-monotone and component-preserving, it halves the
      // remaining distance to the component minimum per round. The
      // propagation result is checkpointed FIRST — un-materialized, both
      // sides of the self-join would recompute the join+aggregate.
      val (jumped, propCkpt) =
        if (iter < shortcutAfter) (prop0, None)
        else {
          val prop = prop0.localCheckpoint()
          val j = prop.as("p")
            .join(prop.select(col("doc_id").as("l_id"), col("label").as("l_lab")),
              col("p.label") === col("l_id"), "left")
            .select(col("p.doc_id").as("doc_id"),
              coalesce(col("l_lab"), col("p.label")).as("label"))
          (j, Some(prop))
        }
      // fold the convergence probe into the same checkpointed pass (carry
      // the previous label alongside the new one) — the probe is then a
      // shuffle-free filter over checkpointed partitions, not a second join
      val next = labels.withColumnRenamed("label", "prev")
        .join(jumped, "doc_id")
        .localCheckpoint()
      // full count (not a limit(1) probe): it IS the convergence check, the
      // next round's sender set sizing, and the shrinkage diagnostic in one
      // shuffle-free pass over checkpointed partitions
      val nActive = next.filter(col("label") < col("prev")).count()
      activeCounts += nActive
      converged = nActive == 0L
      changed = next.filter(col("label") < col("prev"))
        .select("doc_id", "label")
      // `next` is materialized (eager checkpoint + probe): the previous
      // round's checkpointed blocks are dead weight — release them so
      // block-manager storage stays O(1) in the iteration count
      propCkpt.foreach(unpersistLocalCheckpoint)
      unpersistLocalCheckpoint(ckpt)
      ckpt = next
      labels = next.select("doc_id", "label")
      iter += 1
    }
    lastActiveCounts = activeCounts.result()
    // a graph that exhausts the budget would exit here with SILENTLY split
    // clusters — fail loudly instead. With jumping active, 50 rounds cover
    // diameters ~2^45: hitting this with default arguments means a
    // degenerate shortcutAfter/maxIters combination or an input bug (e.g.
    // pair ids outside the nodes set), not a legitimately deep graph.
    if (!converged) {
      und.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"(pointer jumping after $shortcutAfter): with jumping this " +
          "bounds diameter at ~2^(maxIters-shortcutAfter) — check the " +
          "pair/node inputs before raising maxIters")
    }
    und.unpersist()
    nodes.select(col("doc_id").cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Keep-BEST dedup decision per cluster: given [[connectedComponents]]
    * labels and a per-document goodness column (e.g.
    * `TextFunctions.qualityScore`), keep each cluster's argmax — the
    * policy production pipelines actually want (retain the highest-quality
    * copy, not the lowest id); ties break to the lowest doc_id so the
    * choice is deterministic. One max-struct aggregation over the labeled
    * corpus plus a broadcast-friendly keeper join back: no new shuffle
    * shape beyond the clustering itself. Returns (doc_id, cluster_id,
    * keep).
    *
    * A NaN goodness (e.g. a quality ratio over an empty document) is
    * mapped to null BEFORE ordering: Spark sorts NaN as the LARGEST double
    * — a degenerate doc would beat every real one — while null sorts
    * smallest, ranking it last exactly like the SQL oracle's
    * `ORDER BY g DESC` (where a NULL ratio loses). */
  def keepBestPerCluster(clusters: DataFrame, goodness: Column): DataFrame = {
    val g = nanvl(goodness, lit(null).cast("double"))
    val keepers = clusters
      .groupBy("cluster_id")
      .agg(max(struct(g.as("g"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), (-col("best.negid")).as("keeper_doc_id"))
    clusters.join(keepers, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("keeper_doc_id")).as("keep"))
  }

  /** Cross-split contamination report — the decontamination pass of a
    * training-data pipeline: for every held-out (test) document, how many
    * of its distinct word-`k`-grams also occur anywhere in the training
    * split. A test doc sharing long grams with train data leaks benchmark
    * answers into training; the standard remedy is to drop (or trim) the
    * flagged docs.
    *
    * Shape: distinct-shingle rows for both splits (shuffle-free
    * construction via [[posShingleRows]]), one `distinct` on the train
    * side, then a shingle equi-join — the same co-partitioned join shape as
    * every LSH candidate stage here, no cartesian. At 100 TB the train-side
    * distinct-gram table is the big artifact; it persists once per corpus
    * and serves every benchmark sweep (or collapses into a Bloom filter
    * broadcast when a false-positive rate is acceptable).
    *
    * Returns one row per test document: (doc_id, n_grams, n_shared,
    * contaminated) — docs too short to form a k-gram report n_grams = 0 and
    * are not flagged. A NULL `isTest` evaluation reads as train (3VL: a
    * raw null flag would otherwise fail BOTH split filters and the
    * document would silently vanish from the analysis entirely). */
  def contaminationReport(docs: DataFrame, isTest: Column, k: Int = 8): DataFrame = {
    // split BEFORE shingling: each branch only tokenizes its own side (the
    // filter sits directly on the scan, no post-Generate join to discard
    // the other split's shingles)
    val flagged = docs.withColumn("is_test", coalesce(isTest, lit(false)))
    val trainGrams = shingleRows(flagged.filter(!col("is_test")), k)
      .select("sh").distinct()
    val testGrams = shingleRows(flagged.filter(col("is_test")), k)
    val totals = testGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = testGrams.join(trainGrams, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    flagged.filter(col("is_test")).select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[contaminationReport]]'s 100 TB-scale variant: the train-side
    * distinct-gram table — the exact pass's dominant artifact and shuffle —
    * collapses into a BLOOM FILTER built by one partial-aggregating pass
    * and delivered to the test side as a scalar subquery, so the
    * shingle equi-join disappears entirely. This is precisely Spark's own
    * runtime-filter shape (`BloomFilterAggregate` +
    * `BloomFilterMightContain` under a scalar subquery, as
    * InjectRuntimeFilter plants them), driven explicitly.
    *
    * The trade: `might_contain` false positives inflate `n_shared` and can
    * flag a clean document, at the configured `fpp`; it can never MISS a
    * real overlap (no false negatives — the exact report's contaminated
    * docs are always a subset). DedupSimilaritySpec bounds both directions
    * against [[contaminationReport]]. `expectedGrams` sizes the filter
    * (bits ≈ −n·ln(fpp)/ln²2, capped by Spark at
    * spark.sql.optimizer.runtime.bloomFilter.maxNumBits unless raised);
    * undersizing degrades fpp gracefully, never correctness of the
    * no-false-negative guarantee. */
  def contaminationReportBloom(docs: DataFrame, isTest: Column, k: Int = 8,
      expectedGrams: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val numBits = math.max(64L,
      math.ceil(-expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // NULL flag reads as train — same 3VL contract as contaminationReport
    val flagged = docs.withColumn("is_test", coalesce(isTest, lit(false)))
    val bfAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(md5Hash64(col("sh"))),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedGrams),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())
    val bfPlan = posShingleRows(flagged.filter(!col("is_test")), k)
      .agg(bfAgg.as("bf")) // bloom insertion is idempotent: no distinct pass
      .queryExecution.analyzed
    val testGrams = shingleRows(flagged.filter(col("is_test")), k)
    val hit = ColumnBridge.column(BloomFilterMightContain(
      ScalarSubquery(bfPlan),
      ColumnBridge.expression(md5Hash64(col("sh")))))
    val perDoc = testGrams
      .withColumn("hit", hit) // projection-level: subqueries can't sit inside agg args
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count_if(col("hit")).as("n_shared"))
    flagged.filter(col("is_test")).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** ENGINE-PORTABLE 64-bit string hash: the first 16 md5 hex chars
    * assembled as a signed-long bit pattern (two 32-bit `conv` halves —
    * conv's unsigned decimal string can exceed Long at full width, the
    * halves cannot). The hash every sketch here that needs a DuckDB
    * oracle twin uses instead of xxhash64 (which DuckDB cannot compute):
    * bit quality is equivalent, and the oracle assembles the identical
    * pattern as `CAST('0x'||substr(md5(s),1,8) AS BIGINT)` halves. */
  private[operators] def md5Hash64(s: Column): Column = {
    val m = md5(s.cast("binary"))
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** 64-bit SimHash per document: weighted majority vote of each word-hash
    * bit (weight = term frequency).
    *
    * The word hash is the first 16 hex chars of md5 assembled as a 64-bit
    * pattern (two 32-bit `conv` halves — conv's unsigned decimal string
    * can exceed Long at full width, the halves cannot). md5 rather than
    * xxhash64 deliberately: it is ENGINE-PORTABLE, so the q_dedup_simhash
    * oracle restates the whole pipeline — votes, bands, hamming — in
    * DuckDB SQL over UBIGINT and the driver gate hash-proves it. Bit
    * quality is equivalent (any 64 independent md5 bits are as uniform as
    * xxhash's); throughput is codegen either way and the census this runs
    * on is one row per DISTINCT (doc, word). */
  def simhash(docs: DataFrame): DataFrame = {
    val wc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5Hash64(col("word")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"bit_$b")
    }
    val assembled = (0 until 64).map { b =>
      when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    wc.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", assembled)
      .select("doc_id", "simhash")
  }

  /** SimHash near-dup pairs at hamming distance ≤ maxDist via the
    * pigeonhole band trick: split 64 bits into maxDist+1 bands; any pair
    * within distance must agree exactly on ≥1 band — equi-join per band,
    * then exact hamming filter (`bit_count(xor)`). `maxBucket` caps the
    * per-(band,key) bucket width ([[capBuckets]]): identical/empty/
    * boilerplate documents all simhash to the same value, putting the
    * whole clique in every band bucket — quadratic in clique size without
    * the cap. Capped, the pigeonhole guarantee weakens only for pairs
    * ALL of whose agreeing bands are hot — degenerate-clique members, not
    * organic near-dups. */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Option[Long] = None): DataFrame =
    hammingNearDups(simhash(docs), "doc_id", "simhash", maxDist, maxBucket)

  /** Generic 64-bit-hash Hamming near-dup pairs at distance ≤ maxDist —
    * the pigeonhole band join extracted from [[simhashNearDups]] so any
    * 64-bit locality-preserving fingerprint (SimHash over words,
    * [[Multimodal.perceptualHash]] over pixels) shares one scale shape:
    * split into maxDist+1 bands, a pair within distance must agree
    * exactly on ≥ 1 band (equi-join per band), then the exact
    * `bit_count(xor)` filter. `maxBucket` caps hot (band, key) buckets —
    * identical payloads put their whole clique in every band bucket,
    * quadratic without the cap ([[capBuckets]]).
    *
    * Output: (<id>_1, <id>_2, hamming) with id_1 < id_2, each qualifying
    * pair once. */
  def hammingNearDups(hashes: DataFrame, id: String, hash: String,
      maxDist: Int, maxBucket: Option[Long] = None): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"maxDist must be in [0, 64), got $maxDist")
    val nBands = maxDist + 1
    val width = 64 / nBands
    // materialize the (id, hash) table once: it is tiny (one long per
    // item) but its LINEAGE is the full fingerprint computation — for
    // media inputs a codec decode + DSP per payload — and the plan below
    // evaluates it up to four times (hot-bucket census, cap anti-join,
    // both sides of the band self-join)
    val mat = hashes.select(col(id), col(hash)).localCheckpoint()
    val banded0 = mat.select(col(id), col(hash),
      posexplode(array((0 until nBands).map { b =>
        // the last band absorbs the 64 % nBands leftover bits
        val w = if (b == nBands - 1) 64 - b * width else width
        val mask = if (w >= 64) -1L else (1L << w) - 1
        shiftrightunsigned(col(hash), b * width).bitwiseAND(lit(mask))
      }: _*)).as(Seq("band", "key")))
    val banded = maxBucket.fold(banded0)(capBuckets(banded0, Seq("band", "key"), _))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as(s"${id}_1"), col(s"b.$id").as(s"${id}_2"),
        bit_count(col(s"a.$hash").bitwiseXOR(col(s"b.$hash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
