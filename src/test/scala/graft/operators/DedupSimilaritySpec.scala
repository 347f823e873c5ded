package graft.operators

import graft.SparkSuite
import graft.core.Tables
import graft.functions.TextFunctions.wordKGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, dir, "documents")
  private lazy val emb = Tables.load(spark, dir, "embeddings")

  test("minhash LSH near-dups == exhaustive jaccard pairs at threshold 0.8") {
    val lsh = Dedup.minhashNearDups(docs, threshold = 0.8)
      .select("doc_id_1", "doc_id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.8)
      .select("doc_id_1", "doc_id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact) // recall ≈ 1 at these parameters; precision exact by verify step
  }

  test("simhash: identical docs collide, near-dups are close") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.nonEmpty)
    // near-dup pairs (jaccard>=0.8) should have small hamming distance on average
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.8)
      .select("doc_id_1", "doc_id_2").collect()
    if (pairs.nonEmpty) {
      val dists = pairs.map { r =>
        java.lang.Long.bitCount(sh(r.getLong(0)) ^ sh(r.getLong(1)))
      }
      assert(dists.sum.toDouble / dists.length < 16.0,
        s"mean hamming ${dists.sum.toDouble / dists.length} too high for near-dups")
    }
  }

  test("winnowing: shared run of ≥ w+k-1 words ⇒ shared fingerprint; retention ~2/(w+1)") {
    import spark.implicits._
    val k = 3; val w = 4
    // docs 1/2 share a 6-word run (= w+k-1): the winnowing guarantee says
    // they MUST share a fingerprint; doc 3 shares no 3-shingle with either
    val run = "quick brown foxes jump over fences"
    val d = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"one two three four $run five six"),
      (3L, "entirely different words with nothing in common here at all"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, k, w)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert((byDoc(2L) intersect byDoc(3L)).isEmpty)
    // retention: strictly fewer fingerprints than complete windows, and the
    // winnowed set is a subset of the doc's own shingle hashes
    val nShingles = Dedup.posShingleRows(d, k).filter(col("doc_id") === 1L).count()
    assert(byDoc(1L).size < nShingles)
    // pair op surfaces the relationship with its shared count
    val pairs = Dedup.winnowSharedPairs(d, k, w, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("codegen WordKGrams shingle rows ≡ window-lead form (incl. edge docs)") {
    import spark.implicits._
    val edge = Seq(
      (9001L, "one two"),             // fewer than k words
      (9002L, "one two three"),       // exactly k
      (9003L, ""),                    // empty text
      (9004L, null.asInstanceOf[String]), // null text
      (9005L, "a b c d e f g"))
      .toDF("doc_id", "text")
    for (corpus <- Seq(docs.select("doc_id", "text"), edge); k <- Seq(2, 3, 4)) {
      val fast = Dedup.posShingleRows(corpus, k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val ref = Dedup.posShingleRowsWindowed(corpus, k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(fast === ref, s"k=$k mismatch")
    }
  }

  /** The relational MinHash the fused kernel replaced, kept as the
    * independent reference: one `min(pmod(h·a_i + b_i, 2³¹−1))` aggregate
    * per hash over shingle rows (doc_id, sh), grouped by doc_id, with the
    * (a_i, b_i) drawn from Random(42) here. */
  private def referenceAggregate(rows: DataFrame): DataFrame = {
    val rnd = new scala.util.Random(42L)
    val coeffs = Seq.fill(128)(
      (rnd.nextInt(Int.MaxValue).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
    val aggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(2147483647L))).as(s"m$i")
    }
    rows.withColumn("h", xxhash64(col("sh")).bitwiseAND(lit(0x7FFFFFFFL)))
      .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def referenceSignatures(d: DataFrame): DataFrame =
    referenceAggregate(Dedup.posShingleRows(d, 3))

  private def sigRows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val edgeDocs = Seq(
    (9001L, "one two"),                 // fewer than k words
    (9002L, "one two three"),           // exactly k
    (9003L, ""),                        // empty text
    (9004L, null.asInstanceOf[String]), // null text
    (9005L, "a b c a b c a b c a b c"), // repeated shingles
    (9006L, "Crème brûlée, naïve café — über straße"), // non-ASCII
    (9007L, "alpha beta gamma delta epsilon"),
    (9007L, "delta epsilon zeta eta theta"), // a repeated doc_id
    (9008L, "x y"), (9008L, "p q r s"))      // repeat: one row has no shingle

  test("fused minhashSignatures == the 128-min shingle aggregate, row for row") {
    import spark.implicits._
    val edge = edgeDocs.toDF("doc_id", "text")
    for (corpus <- Seq(docs.select("doc_id", "text"), edge)) {
      val fused = sigRows(Dedup.minhashSignatures(corpus))
      assert(fused.nonEmpty)
      assert(fused === sigRows(referenceSignatures(corpus)))
    }
    // a repeated doc_id is one document: one row, whose signature is the
    // reference's min over both rows' shingles (asserted above)
    assert(Dedup.minhashSignatures(edge).filter(col("doc_id") === 9007L)
      .count() === 1L)
    // docs with no complete k-shingle get no row
    assert(Dedup.minhashSignatures(edge)
      .filter(col("doc_id").isin(9001L, 9003L, 9004L)).count() === 0L)
    // the stored layout's schema is unchanged
    assert(Dedup.minhashSignatures(docs.limit(0)).schema ===
      referenceSignatures(docs.limit(0)).schema)
  }

  test("the signature kernel hashes non-ASCII shingles like xxhash64") {
    import spark.implicits._
    // split on spaces only: normalization would strip the non-ASCII bytes
    val raw = Seq((1L, "日本語 の テキスト です ね"), (2L, "Grüße aus Köln und Straße"))
      .toDF("doc_id", "text")
    val grams = wordKGrams(split(col("text"), " "), 3)
    val fused = raw.select(col("doc_id") +: (0 until 128).map(i =>
      graft.functions.TextFunctions.minhashSignature(grams, 128)(i).as(s"m$i")): _*)
    val ref = referenceAggregate(raw.select(col("doc_id"), explode(grams).as("sh")))
    assert(sigRows(fused) === sigRows(ref))
  }

  test("band keys == xxhash64(concat_ws(',', m_i cast string)) per band") {
    import spark.implicits._
    val edge = edgeDocs.toDF("doc_id", "text")
    for (corpus <- Seq(docs.select("doc_id", "text"), edge)) {
      val sig = Dedup.minhashSignatures(corpus)
      val ms = (0 until 128).map(i => col(s"m$i"))
      val out = sig.select(
        graft.functions.TextFunctions.minhashBandKeys(array(ms: _*), 32).as("fused"),
        array((0 until 32).map(b => xxhash64(concat_ws(",",
          ms.slice(b * 4, b * 4 + 4).map(_.cast("string")): _*))): _*).as("ref"))
        .collect()
      assert(out.nonEmpty)
      out.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    }
    // concat_ws skips a null element; so does the kernel
    val withNull = Seq((Some(7L), None: Option[Long], Some(9L), Some(11L)))
      .toDF("a", "b", "c", "d")
      .select(
        graft.functions.TextFunctions.minhashBandKeys(
          array(col("a"), col("b"), col("c"), col("d")), 2).as("fused"),
        array(xxhash64(concat_ws(",", col("a").cast("string"), col("b").cast("string"))),
          xxhash64(concat_ws(",", col("c").cast("string"), col("d").cast("string"))))
          .as("ref"))
      .collect()(0)
    assert(withNull.getSeq[Long](0) === withNull.getSeq[Long](1))
  }

  test("shingle sets == collect_set over shingle rows, repeated doc_id merged") {
    import spark.implicits._
    for (corpus <- Seq(docs.select("doc_id", "text"), edgeDocs.toDF("doc_id", "text"))) {
      def sets(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val ref = Dedup.posShingleRows(corpus, 3).groupBy("doc_id")
        .agg(collect_set(col("sh")))
      assert(sets(Dedup.shingleSets(corpus, 3)) === sets(ref))
    }
  }

  /** Every node of an executed (adaptive) plan, query stages included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    planNodes(df.queryExecution.executedPlan)
  }

  /** Shingle-grain work in an executed plan: a Generate (the shingle
    * explode) or an aggregate as wide as a 128-hash signature. */
  private def shingleGrain(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.filter {
      case _: GenerateExec => true
      case a: BaseAggregateExec => a.output.size > 2
      case _ => false
    }

  test("plan pin: signatures and shingle sets are built without shingle rows") {
    // the signature: no explode, no 129-field aggregate; the only aggregate
    // is the doc-grain merge of one signature array per doc row, behind at
    // most one shuffle (on doc_id)
    val sig = executedNodes(Dedup.minhashSignatures(docs))
    assert(shingleGrain(sig).isEmpty, sig.mkString("\n"))
    assert(sig.count(_.isInstanceOf[ShuffleExchangeExec]) <= 1)
    val aggs = sig.collect { case a: BaseAggregateExec => a }
    assert(aggs.forall(_.aggregateExpressions.forall(
      _.aggregateFunction.isInstanceOf[CollectList])))
    // the check bites on the relational form it replaced
    assert(shingleGrain(executedNodes(referenceSignatures(docs))).nonEmpty)

    // the verify side: no explode and no collect_set over shingle rows
    def collectSets(nodes: Seq[SparkPlan]) = nodes.collect {
      case a: BaseAggregateExec => a.aggregateExpressions
        .filter(_.aggregateFunction.isInstanceOf[CollectSet])
    }.flatten
    val sets = executedNodes(Dedup.shingleSets(docs, 3))
    assert(sets.collect { case g: GenerateExec => g }.isEmpty)
    assert(collectSets(sets).isEmpty)
    val parentSets = executedNodes(Dedup.posShingleRows(docs, 3)
      .groupBy("doc_id").agg(collect_set(col("sh"))))
    assert(collectSets(parentSets).nonEmpty)
  }

  test("incrementalNearDups == full-corpus pairs touching the new batch; no self-pairs") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = toSet(Dedup.minhashNearDups(docs))
      .filter { case (_, b, _) => b >= 400 } // a < b: touching-new ⇔ b ≥ 400
    val oldSig = Dedup.minhashSignatures(docs.filter(col("doc_id") < 400))
    val inc = toSet(Dedup.incrementalNearDups(
      docs.filter(col("doc_id") >= 400), oldSig, docs))
    assert(inc === full)
    assert(full.nonEmpty)
    // a re-crawled doc (present in BOTH the store and the new batch) must
    // not pair with itself; its genuine pairs still surface
    val sigAll = Dedup.minhashSignatures(docs) // store already holds everything
    val again = toSet(Dedup.incrementalNearDups(
      docs.filter(col("doc_id") >= 400), sigAll, docs))
    assert(!again.exists { case (a, b, _) => a == b })
    assert(again === toSet(Dedup.minhashNearDups(docs))
      .filter { case (a, b, _) => a >= 400 || b >= 400 })
  }

  test("tileDedup: first corpus-wide occurrence of a 5-word tile survives, docs rebuild") {
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon"       // shared tile
    val tB = "zeta eta theta iota kappa"            // doc 0 only
    val tC = "lambda mu nu xi omicron"              // doc 1 only
    val docs = Seq(
      (0L, s"$tA $tB"),          // 2 tiles, both first occurrences
      (1L, s"$tA $tC"),          // loses tA to doc 0, keeps tC
      (2L, "pi rho sigma tau"),  // 4 words < k: no tiles
      (3L, s"$tC $tC")           // intra-doc repeat: loses its 2nd tile AND
                                 // tile 1 to doc 1 (earlier doc_id)
    ).toDF("doc_id", "text")
    val got = Dedup.tileDedup(docs, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(0L) === ((2L, 2L, s"$tA $tB")))
    assert(got(1L) === ((2L, 1L, tC)))
    assert(got(2L) === ((0L, 0L, "")))
    assert(got(3L) === ((2L, 0L, "")))
    // partial trailing tile is not a tile: 7 words -> 1 tile
    val trail = Dedup.tileDedup(Seq((9L, s"$tB one two")).toDF("doc_id", "text"))
      .collect().head
    assert((trail.getLong(1), trail.getString(3)) === ((1L, tB)))
  }

  test("tileDedupDf: df-threshold drops boilerplate from ALL docs, intra-doc repeats survive") {
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon"       // in docs 0 and 1: df=2
    val tB = "zeta eta theta iota kappa"            // doc 0 only
    val tC = "lambda mu nu xi omicron"              // doc 3 twice: df=1
    val docs = Seq(
      (0L, s"$tA $tB"),
      (1L, s"$tA"),
      (3L, s"$tC $tC")
    ).toDF("doc_id", "text")
    val got = Dedup.tileDedupDf(docs, k = 5, minDf = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // tA dropped everywhere — INCLUDING its first occurrence in doc 0
    assert(got(0L) === ((2L, 1L, tB)))
    assert(got(1L) === ((1L, 0L, "")))
    // intra-doc repetition is df=1: both copies survive (tileDedup would
    // keep only the first)
    assert(got(3L) === ((2L, 2L, s"$tC $tC")))
    // minDf=3 spares the df=2 tile everywhere
    val lax = Dedup.tileDedupDf(docs, k = 5, minDf = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(lax === Map(0L -> 2L, 1L -> 1L, 3L -> 2L))
  }

  test("exact dedup groups partition the corpus") {
    val n = docs.count()
    val g = Dedup.exactGroups(docs, col("text"))
    assert(g.agg(sum("n_copies")).collect()(0).getLong(0) === n)
  }

  test("LSH ANN recall vs brute-force top-10") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val brute = Similarity.bruteTopK(emb, qs, 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, qs, 10, dim = 64)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.6, s"LSH recall $recall too low") // 24-bit sketch, 8 bands of 3
  }

  test("IVF ANN recall vs brute-force top-10") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val brute = Similarity.bruteTopK(emb, qs, 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, qs, 10, nCells = 16, nProbe = 6)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"IVF recall $recall too low")
  }

  test("persisted IVF index == inline path for the same centroids") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cents = Similarity.trainIvfCentroids(emb, nCells = 16, iterations = 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/ivf"
    Similarity.writeIvfIndex(emb, path, centroids = Some(cents))
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = toSet(Similarity.ivfTopKWithCentroids(emb, qs, cents, 10, nProbe = 4))
    val persisted = toSet(Similarity.ivfTopKFromIndex(spark, path, qs, 10, nProbe = 4))
    assert(persisted === inline)
    assert(persisted.nonEmpty)
  }

  test("IVF recall floor holds through the persisted index (sample-trained)") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_s").toString + "/ivf"
    // train on half the corpus — the 100 TB shape (sampled training, one
    // full-corpus assignment pass at write time)
    Similarity.writeIvfIndex(emb, path, nCells = 16, iterations = 3,
      trainFraction = 0.5)
    val brute = Similarity.bruteTopK(emb, qs, 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKFromIndex(spark, path, qs, 10, nProbe = 6)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"persisted-IVF recall $recall too low")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Similarity.embeddingNearDups(emb, 0.4).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("banded, blocked, and routed embedding near-dups all == brute at 0.45 on sf0.01") {
    // The q_dedup_embed oracle is the exhaustive exact answer, so every
    // candidate path must be lossless here. sf0.01's thinnest qualifying
    // pair sits at cos 0.4516 — per-pair banded miss at the derived band
    // params is ~1e-9, deterministic for the fixed hyperplane seed.
    val e01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = toSet(Similarity.embeddingNearDupsBrute(e01, 0.45))
    assert(toSet(Similarity.embeddingNearDupsBanded(e01, 0.45)) === brute)
    assert(toSet(Similarity.embeddingNearDupsBlocked(e01, 0.45)) === brute)
    assert(toSet(Similarity.embeddingNearDups(e01, 0.45)) === brute) // routed
    assert(brute.nonEmpty)
  }

  test("threshold-adaptive routing: blocked when bands cannot prune, banded when they can") {
    // at 0.45 no sign-band plan prunes orthogonal noise (p1 = 0.65 vs 0.5)
    assert(Similarity.bandPlanFor(0.45).isEmpty)
    // at tight thresholds a pruning plan exists and the two paths agree
    // (0.85 is q_dedup_embed_banded's threshold — pin that it routes banded)
    assert(Similarity.bandPlanFor(0.85).isDefined)
    val plan9 = Similarity.bandPlanFor(0.9)
    assert(plan9.isDefined)
    assert(Similarity.noiseCandidateFraction(plan9.get._1, plan9.get._2) <= 0.5)
    val e01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(toSet(Similarity.embeddingNearDups(e01, 0.9)) ===
      toSet(Similarity.embeddingNearDupsBrute(e01, 0.9)))
  }

  test("persisted minhash signature table gives identical near-dup pairs") {
    val d01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val sigPath = java.nio.file.Files.createTempDirectory("graft_sig").toString + "/sig"
    Dedup.writeMinhashSignatures(d01, sigPath)
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val persisted = toSet(Dedup.minhashNearDupsFromSignatures(
      spark.read.parquet(sigPath), d01))
    val inline = toSet(Dedup.minhashNearDups(d01))
    assert(persisted === inline)
    assert(persisted.nonEmpty)
  }

  test("persisted winnow fingerprint table gives identical shared pairs") {
    val d01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_fp").toString + "/fp"
    Dedup.writeWinnowFingerprints(d01, path)
    def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val persisted = toSet(Dedup.winnowSharedPairsFromFingerprints(
      spark.read.parquet(path), minShared = 1L))
    val inline = toSet(Dedup.winnowSharedPairs(d01, minShared = 1L))
    assert(persisted === inline)
    assert(persisted.nonEmpty)
  }

  test("high-df shingle prune: minhash pairs identical with and without it") {
    val d01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    // synthetic trigrams are near-unique (max df = 7 at sf0.01): prune at 3
    // so the guard actually bites; real corpora would use a far larger cap
    val maxDf = 3L
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // pruned signatures produce the same verified pairs...
    val unpruned = pairs(Dedup.minhashNearDups(d01))
    val pruned = pairs(Dedup.minhashNearDups(d01, maxShingleDf = Some(maxDf)))
    assert(pruned === unpruned)
    // ...and the prune actually bites: some shingles exceed the df cutoff
    val hot = Dedup.shingleRows(d01, 3).groupBy(col("sh"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf).count()
    assert(hot > 0, s"test corpus has no shingle with df > $maxDf — prune untested")
  }

  test("bucket caps: identical pairs on the organic corpus, sub-quadratic on a hot-key clique") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id_1", "doc_id_2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // organic corpus: cap at the widest natural bucket — the guard is armed
    // but must not change results
    val simBandWidth = {
      val sh = Dedup.simhash(docs)
      val nBands = 4; val width = 16
      sh.select(posexplode(array((0 until nBands).map { b =>
          shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1))
        }: _*)).as(Seq("band", "key")))
        .groupBy("band", "key").count().agg(max("count")).collect()(0).getLong(0)
    }
    assert(pairSet(Dedup.simhashNearDups(docs, maxBucket = Some(simBandWidth))) ===
      pairSet(Dedup.simhashNearDups(docs)))
    val fpWidth = Dedup.winnowFingerprints(docs).groupBy("fp").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(pairSet(Dedup.winnowSharedPairs(docs, maxFpDf = Some(fpWidth))) ===
      pairSet(Dedup.winnowSharedPairs(docs)))

    // hot-key clique: one degenerate simhash/fingerprint shared by 120
    // clones goes quadratic uncapped; capped, the clique dies in candidate
    // generation while an organic duplicate pair survives untouched
    val boiler = "the same boilerplate header text repeated in every single cloned document goes here"
    val organic = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = ((100L until 220L).map(i => (i, boiler)) ++
      Seq((1L, organic), (2L, organic))).toDF("doc_id", "text")
    val n = 120L

    val simUncapped = Dedup.simhashNearDups(corpus).count()
    assert(simUncapped >= n * (n - 1) / 2, s"expected quadratic clique, got $simUncapped")
    assert(pairSet(Dedup.simhashNearDups(corpus, maxBucket = Some(10L))) === Set((1L, 2L)))

    val winUncapped = Dedup.winnowSharedPairs(corpus, minShared = 1L).count()
    assert(winUncapped >= n * (n - 1) / 2, s"expected quadratic clique, got $winUncapped")
    assert(pairSet(Dedup.winnowSharedPairs(corpus, minShared = 1L,
      maxFpDf = Some(10L))) === Set((1L, 2L)))
  }

  test("connectedComponents == driver-side union-find on a random pair graph") {
    import spark.implicits._
    val n = 60
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(45)((rnd.nextInt(n), rnd.nextInt(n)))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
      .distinct
    // maxLocalEdges = 0 forces the DISTRIBUTED loop — the default would
    // solve this tiny graph on the driver via the same union-find idea
    // this test uses as its reference
    val got = Dedup.connectedComponents(
        pairs.toDF("doc_id_1", "doc_id_2"), (0L until n).toDF("doc_id"),
        maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // and the fast path must agree with the loop exactly
    val gotFast = Dedup.connectedComponents(
        pairs.toDF("doc_id_1", "doc_id_2"), (0L until n).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFast === got, "driver fast path diverged from the loop")
    // independent reference: union-find attaching larger root under smaller,
    // so each component's root IS its minimum member
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    assert(got === want)
  }

  test("connectedComponents: bounded probe overflow falls through to the loop") {
    import spark.implicits._
    // r14: the fast path decides AND fetches with ONE limit(bound+1)
    // collect. Pin the boundary: bound = edge count takes the fast path,
    // bound = edge count − 1 overflows the probe and must fall through to
    // the distributed loop with an identical labeling.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_id_1", "doc_id_2")
    val nodes = (0L until 6L).toDF("doc_id")
    val viaFast = Dedup.connectedComponents(chain, nodes, maxLocalEdges = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponents(chain, nodes, maxLocalEdges = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFast === viaLoop)
    assert(viaFast === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 5L -> 5L))
  }

  test("connectedComponents: transitive chains collapse; no pairs ⇒ singletons") {
    import spark.implicits._
    val nodes = (0L until 6L).toDF("doc_id")
    // chain 1-2-3-4: pairwise keep-lowest would drop 2,3,4 but also lose
    // the fact that they are ONE group; cc labels them all 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_id_1", "doc_id_2")
    val labels = Dedup.connectedComponents(chain, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
    val empty = spark.emptyDataset[(Long, Long)].toDF("doc_id_1", "doc_id_2")
    val singletons = Dedup.connectedComponents(empty, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(singletons === (0L until 6L).map(i => i -> i).toMap)
    // an iteration budget below the component diameter must fail LOUDLY,
    // never return silently split clusters
    val longChain = (0L until 9L).map(i => (i, i + 1)).toDF("doc_id_1", "doc_id_2")
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(longChain, (0L until 10L).toDF("doc_id"),
        maxIters = 3, maxLocalEdges = 0L).collect()
    }
    assert(err.getMessage.contains("did not converge"))
    // and with enough rounds the same chain collapses to one cluster
    val ok = Dedup.connectedComponents(longChain, (0L until 10L).toDF("doc_id"),
        maxLocalEdges = 0L)
      .select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(ok === Seq(0L))
    // pointer jumping: a 300-long chain (diameter ≫ maxIters) converges in
    // O(log diameter) rounds once shortcutting kicks in — plain propagation
    // would need 300 rounds and throw (maxLocalEdges = 0 forces the loop)
    val chain300 = (0L until 300L).map(i => (i, i + 1)).toDF("doc_id_1", "doc_id_2")
    val labels300 = Dedup.connectedComponents(chain300, (0L until 301L).toDF("doc_id"),
        maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels300.forall(_._2 === 0L), "one component, min-labeled")
    // delta propagation: the per-round sender set (changed labels) SHRINKS
    // as the chain collapses — the converged round is 0 and the late
    // rounds are a sliver of the peak
    val active = Dedup.lastActiveCounts
    info(s"chain-300 per-round active counts: ${active.mkString(", ")}")
    assert(active.last === 0L, "converged round reports no changes")
    assert(active.dropRight(1).forall(_ > 0L), "no idle non-final rounds")
    assert(active.zip(active.tail).forall { case (a, b) => b < a },
      "round input shrinks monotonically as components settle")
    assert(active(active.length - 2) < active.max / 3,
      "late rounds touch a sliver of the peak sender set")
  }

  test("keepBestPerCluster: argmax goodness wins, ties to lowest id, singletons kept") {
    import spark.implicits._
    // cluster 1: {1,2,3} with qualities 0.2, 0.9, 0.9 → 2 wins (tie with 3)
    // cluster 5: singleton → kept regardless of quality
    val clusters = Seq(
      (1L, 1L, 0.2), (2L, 1L, 0.9), (3L, 1L, 0.9), (5L, 5L, 0.1))
      .toDF("doc_id", "cluster_id", "quality")
    val got = Dedup.keepBestPerCluster(clusters, col("quality"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false, 5L -> true))
    // NaN goodness (quality ratios over empty docs) must LOSE to any real
    // score — Spark sorts NaN largest, so unguarded ordering would keep
    // the degenerate doc; the oracle's ORDER BY g DESC ranks NULL last
    val withNan = Seq(
      (1L, 1L, Double.NaN), (2L, 1L, 0.1), (9L, 9L, Double.NaN))
      .toDF("doc_id", "cluster_id", "quality")
    val gotNan = Dedup.keepBestPerCluster(withNan, col("quality"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gotNan === Map(1L -> false, 2L -> true, 9L -> true),
      "NaN loses to a real score; an all-NaN singleton still keeps itself")
  }

  test("contaminationReport flags cross-split duplicates, spares clean and short docs") {
    import spark.implicits._
    val leaked = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (0L, leaked), // train
      (1L, leaked), // test: full duplicate of a train doc
      (2L, "completely unrelated held out document with fresh vocabulary throughout entirely"),
      (3L, "short doc")) // test: < 8 words, no grams to check
      .toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(d, col("doc_id") >= 1, k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep.keySet === Set(1L, 2L, 3L), "one row per test doc, train absent")
    assert(rep(1L)._3 && rep(1L)._2 === rep(1L)._1, "duplicate shares every gram")
    assert(rep(2L)._1 > 0 && rep(2L)._2 === 0L && !rep(2L)._3)
    assert(rep(3L) === ((0L, 0L, false)))
  }

  test("contaminationReportBloom: no false negatives vs exact; FP rate bounded") {
    import spark.implicits._
    // documents table: realistic corpus with known near/exact duplicates
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val isTest = col("doc_id") % 5 === 0
    val exact = Dedup.contaminationReport(docs, isTest, k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val bloom = Dedup.contaminationReportBloom(docs, isTest, k = 8,
      expectedGrams = 200000L, fpp = 0.01)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(bloom.keySet === exact.keySet)
    // a Bloom filter can't miss a real member: every exact hit is reported,
    // n_grams identical, n_shared never undercounts
    exact.foreach { case (id, (nGrams, nShared, contaminated)) =>
      assert(bloom(id)._1 === nGrams, s"doc $id n_grams")
      assert(bloom(id)._2 >= nShared, s"doc $id n_shared undercounted")
      if (contaminated) assert(bloom(id)._3, s"doc $id false NEGATIVE")
    }
    // false positives stay near the configured fpp: among docs the exact
    // report calls clean, the flagged fraction is small (10x headroom)
    val clean = exact.filter(!_._2._3).keys.toSeq
    val falsePos = clean.count(id => bloom(id)._3)
    assert(clean.nonEmpty)
    assert(falsePos.toDouble / clean.size <= 0.10,
      s"$falsePos/${clean.size} clean docs flagged")
    // and the per-gram overcount is bounded too
    val extraShared = clean.map(id => bloom(id)._2 - exact(id)._2).sum.toDouble
    val totalCleanGrams = clean.map(id => exact(id)._1).sum.toDouble
    assert(extraShared / math.max(1.0, totalCleanGrams) <= 0.05,
      s"gram-level FP rate $extraShared/$totalCleanGrams")
  }

  test("knnClassify: plurality vote, smallest-label tie-break, index-agnostic") {
    import spark.implicits._
    // hand-built neighbor frame: q1 votes 2×label7 vs 1×label3 → 7;
    // q2 votes 1×label5 vs 1×label2 → tie broken to the SMALLER label 2
    val neighbors = Seq(
      (1L, 1, 10L, 0.9), (1L, 2, 11L, 0.8), (1L, 3, 12L, 0.7),
      (2L, 1, 13L, 0.9), (2L, 2, 14L, 0.8))
      .toDF("query_id", "rank", "vec_id", "cos")
    val labels = Seq((10L, 7), (11L, 3), (12L, 7), (13L, 5), (14L, 2))
      .toDF("vec_id", "label")
    val got = Similarity.knnClassify(neighbors, labels)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((7, 2L)), 2L -> ((2, 1L))))
    // index-agnostic: the IVF neighbor frame votes through the same code
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val viaIvf = Similarity.knnClassify(Similarity.ivfTopK(emb, qs, 10), emb)
    assert(viaIvf.collect().length === qs.count())
  }

  test("diversitySample: deterministic, quota-bounded, keeps rare regions a hash sample dilutes") {
    import spark.implicits._
    // 195 vectors along [1,0] (dominant region) + 5 along [0,1] (rare);
    // ids 0 and 1 sit in the rare cluster so the seeded centroids straddle
    // both regions and k-means keeps a cell on the rare one
    def vec(main: Float, alt: Float) = Seq(main, alt)
    val rows = (0L until 2L).map(i => (i, vec(0.01f * i, 1.0f))) ++
      (2L until 5L).map(i => (i, vec(0.01f * i, 1.0f))) ++
      (5L until 200L).map(i => (i, vec(1.0f, 0.001f * (i % 7))))
    val emb = rows.toDF("vec_id", "embedding")
    val s1 = Similarity.diversitySample(emb, n = 40, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    val s2 = Similarity.diversitySample(emb, n = 40, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(s1 === s2, "content-hash order must make the draw deterministic")
    assert(s1.length <= 4 * 10 && s1.nonEmpty)
    s1.groupBy(_._2).foreach { case (_, cell) =>
      assert(cell.length <= 10, "per-cell quota exceeded") }
    // every rare-region vector survives: its cell holds 5 ≤ quota rows,
    // where a proportional 20% hash sample would keep ~1 of them
    val rare = s1.map(_._1).filter(_ < 5L).toSet
    assert(rare === Set(0L, 1L, 2L, 3L, 4L),
      s"rare cluster must be fully represented, got $rare")
  }

  test("bandCountFor derives enough bands for the target miss probability") {
    val bands = Similarity.bandCountFor(0.45, bandBits = 2)
    val p1 = 1.0 - math.acos(0.45) / math.Pi
    assert(math.pow(1 - p1 * p1, bands) <= 1e-9)
    // tight thresholds need far fewer bands than loose ones
    assert(Similarity.bandCountFor(0.9, bandBits = 2) < bands)
  }

  test("sharedSpans: planted verbatim quote found exactly; maximality; no sub-spans") {
    import spark.implicits._
    val quote = (0 until 25).map(i => s"q$i").mkString(" ") // 25 unique words
    val d = Seq(
      (1L, s"alpha beta gamma $quote delta epsilon"),       // quote at offset 3
      (2L, s"one two $quote three"),                        // quote at offset 2
      (3L, "totally unrelated content with no overlap here"))
      .toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(d, k = 3, minWords = 20, maxDf = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // exactly ONE maximal span (never its sub-runs), at the right offsets
    assert(spans.toSeq === Seq((1L, 2L, 3, 2, 25L)),
      s"expected the single maximal 25-word span, got ${spans.toSeq}")
  }

  test("sharedSpans: two disjoint shared runs in one pair emit two spans; shorter-than-min absent") {
    import spark.implicits._
    val run1 = (0 until 20).map(i => s"a$i").mkString(" ")
    val run2 = (0 until 22).map(i => s"b$i").mkString(" ")
    val short = (0 until 10).map(i => s"c$i").mkString(" ") // below minWords
    val d = Seq(
      (1L, s"$run1 xfiller yfiller $run2 zfiller $short"),
      (2L, s"$short prefix $run2 middle words $run1"))
      .toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(d, k = 3, minWords = 20, maxDf = 50L)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4))).sorted
    assert(spans.length === 2, s"expected run1+run2 only, got ${spans.toSeq}")
    assert(spans.map(_._3).toSeq === Seq(20L, 22L))
  }

  test("sharedSpans: boilerplate gram prune drops spans made only of hot grams") {
    import spark.implicits._
    val boiler = (0 until 25).map(i => s"h$i").mkString(" ")
    // the same 25-word run in 12 docs: with maxDf=10 every gram is hot →
    // no spans at all; with maxDf=50 all 66 pairs report it
    val d = (1L to 12L).map(i => (i, s"doc$i unique$i $boiler")).toDF("doc_id", "text")
    assert(Dedup.sharedSpans(d, k = 3, minWords = 20, maxDf = 10L).count() === 0L)
    assert(Dedup.sharedSpans(d, k = 3, minWords = 20, maxDf = 50L).count() === 66L)
  }

  test("sharedSpans: equals brute-force maximal diagonal runs on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    for (iter <- 1 to 10) {
      val k = 3
      val minWords = 4 + rnd.nextInt(3) // 4..6, ≥ k
      val base = Array.fill(12 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length)))
      val docs = (0L until (3L + rnd.nextInt(2))).map { i =>
        val own = Array.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length)))
        val words =
          if (i > 0 && rnd.nextBoolean()) { // plant a verbatim slice of doc 0
            val s = rnd.nextInt(base.length - 5)
            val slice = base.slice(s, s + 5 + rnd.nextInt(base.length - s - 4))
            val at = rnd.nextInt(own.length)
            own.take(at) ++ slice ++ own.drop(at)
          } else own
        (i, if (i == 0) base.mkString(" ") else words.mkString(" "))
      }
      val got = Dedup.sharedSpans(docs.toDF("doc_id", "text"),
          k, minWords, maxDf = 10000L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
        .toSet
      // brute force: every start-maximal equal diagonal run of ≥ minWords
      val ws = docs.map { case (id, t) => id -> t.split(" ") }.toMap
      val expect = (for {
        i <- ws.keys.toSeq; j <- ws.keys.toSeq if i < j
        a = ws(i); b = ws(j)
        ai <- a.indices; bj <- b.indices
        if a(ai) == b(bj) &&
          (ai == 0 || bj == 0 || a(ai - 1) != b(bj - 1)) // maximal start
      } yield {
        var l = 0
        while (ai + l < a.length && bj + l < b.length && a(ai + l) == b(bj + l)) l += 1
        (i, j, ai, bj, l.toLong)
      }).filter(_._5 >= minWords).toSet
      assert(got === expect, s"iter=$iter minWords=$minWords docs=$docs")
    }
  }

  test("removeSharedSpans: token conservation — kept + removed == original, every doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = Array("x", "y", "z", "w")
    val docs = (0L until 12L).map { i =>
      (i, Array.fill(15 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val out = Dedup.removeSharedSpans(docs.toDF("doc_id", "text"),
        k = 3, minWords = 5, maxDf = 10000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet === docs.map(_._1).toSet, "every input doc must appear")
    docs.foreach { case (id, text) =>
      val orig = text.split(" ").length
      val (removed, clean) = out(id)
      val kept = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(kept + removed === orig, s"doc $id: $kept kept + $removed removed != $orig")
    }
  }

  test("removeSharedSpans: later copy scrubbed, earlier kept; untouched docs normalized") {
    import spark.implicits._
    val quote = (0 until 25).map(i => s"q$i").mkString(" ")
    val d = Seq(
      (1L, s"Alpha, beta gamma $quote delta!"),
      (2L, s"one two $quote three"),
      (3L, "totally unrelated content"))
      .toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(d, k = 3, minWords = 20, maxDf = 50L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) === (0L, s"alpha beta gamma $quote delta"), "keeper normalized, intact")
    assert(out(2L) === (25L, "one two three"), "loser's span cut, remainder re-joined")
    assert(out(3L) === (0L, "totally unrelated content"))
  }

  test("removeSharedSpans: overlapping losses from two partners merge — union, not double-count") {
    import spark.implicits._
    val r = (0 until 40).map(i => s"r$i")
    val d = Seq(
      (1L, r.take(30).mkString(" ")),        // shares [0,30) with doc 3
      (2L, r.drop(20).mkString(" ")),        // shares [20,40) with doc 3
      (3L, r.mkString(" ")))                 // loses both → union [0,40)
      .toDF("doc_id", "text")
    val out = Dedup.removeSharedSpans(d, k = 3, minWords = 20, maxDf = 50L)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(out(1L)._1 === 0L && out(2L)._1 === 0L, "earlier docs keep their copies")
    assert(out(3L) === (40L, ""), s"union of overlapping ranges, fully emptied: ${out(3L)}")
  }
}
