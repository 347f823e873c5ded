package graft

import graft.core.{Granularity, Sessions}
import graft.query.MetricsQueryApi

/** End-to-end product demo: drives the whole engine the way a user would —
  * ingest a batch, run the rollup cascade, query through the API, print the
  * reference-shaped JSON. `runMain graft.Demo [sfDir]`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Sessions.local("graft-demo")
      .withExtensions(new graft.plans.GraftExtensions).getOrCreate()

    println("== 1. ingest: batch of raw points -> day-partitioned store + 5m tier ==")
    val store = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val pts = graft.core.Tables.metrics(spark, sfDir)
    val batch = graft.streaming.IngestStream.withValidity(
      pts.withColumn("ttl_seconds", org.apache.spark.sql.functions.lit(86400))
        .withColumn("unit", org.apache.spark.sql.functions.lit("unknown")),
      minTs = 0L, maxTs = Long.MaxValue)
    graft.streaming.IngestStream.processBatch(batch, store)
    println(s"   5m windows: ${graft.core.SnapshotStore.read(spark, s"$store/metrics_5m").map(_.count()).getOrElse(0L)}")

    println("== 2. cascade: 5m -> 20m -> 60m -> 240m -> 1440m ==")
    graft.streaming.IngestStream.rollupCascadeFor(spark, store)
    for (g <- Seq(Granularity.MIN_20, Granularity.MIN_60, Granularity.MIN_240, Granularity.MIN_1440))
      println(s"   ${g.name}: ${graft.core.SnapshotStore.read(spark, s"$store/metrics_${g.name}").map(_.count()).getOrElse(0L)} windows")

    println("== 3. query API: points-mode, glob, units, default stats ==")
    val result = MetricsQueryApi.getRollups(spark, sfDir,
      MetricsQueryApi.Params("purchase", "app.purchase.user_1?", "20240103", "20240123",
        points = Some(50)),
      nowMillis = 1706659200000L)
    result.show(5, truncate = false)

    println("== 4. reference-shaped JSON response ==")
    val json = MetricsQueryApi.toJsonResponse(result)
    println(json.take(400) + (if (json.length > 400) " ..." else ""))

    println("== 5. SQL surface: custom expressions ==")
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb")
    spark.sql(
      """SELECT a.vec_id, b.vec_id AS other,
        |       dot_product(a.embedding, b.embedding) /
        |         (vec_norm(a.embedding) * vec_norm(b.embedding)) AS cos
        |FROM emb a JOIN emb b ON a.vec_id = 0 AND b.vec_id IN (1, 2, 3)""".stripMargin)
      .show()
    println("== 6. store-backed read: same query served FROM the cascade tiers ==")
    val storedResult = MetricsQueryApi.getRollupsStored(spark, store,
      MetricsQueryApi.Params("purchase", "app.purchase.user_1?", "20240103", "20240123",
        points = Some(50)),
      nowMillis = 1706659200000L)
    storedResult.show(5, truncate = false)

    println("== 7. persisted IVF index: build once, probe reads only probed cells ==")
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.operators.Similarity.writeIvfIndex(emb, s"$store/ivf")
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    graft.operators.Similarity.ivfTopKFromIndex(spark, s"$store/ivf", queries, k = 5)
      .show()

    println("== 8. multimodal: REAL image decode (JDK ImageIO) ==")
    val img = new java.awt.image.BufferedImage(32, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 32) img.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    import spark.implicits._
    val media = Seq((1L, buf.toByteArray, "image/png"))
      .toDF("media_id", "payload", "mime")
      .select(col("media_id"), col("payload"),
        org.apache.spark.sql.functions.struct(
          col("mime"),
          org.apache.spark.sql.functions.lit(buf.size().toLong).as("n_bytes"),
          org.apache.spark.sql.functions.lit("demo").as("source")).as("meta"))
    graft.operators.Multimodal.extractFeatures(media).show()

    println("== 9. monitoring: perSecond rates -> rolling z-score anomalies ==")
    val rates = graft.operators.Series.derivatives(
        pts.filter(col("tenant_id") === "purchase"))
      .filter(col("rate_per_s").isNotNull)
      .select(col("tenant_id"), col("metric_name"), col("ts_ms"),
        col("rate_per_s").as("value"))
    graft.operators.Anomaly.anomalies(rates,
        windowMs = 14L * 86400000L, threshold = 2.5, minPoints = 5)
      .select("metric_name", "ts_ms", "value", "mean_win", "std_win", "z")
      .show(5, truncate = false)

    println("== 10. sessionization: gap-based user sessions over the event stream ==")
    val ev = graft.core.Tables.load(spark, sfDir, "events")
    graft.operators.Sessionize.sessions(
        ev.select(col("user_id"), graft.core.Tables.tsMsCol(ev).as("ts_ms"),
          col("event_id"), col("value")), gapMs = 86400000L)
      .orderBy(col("n_events").desc)
      .show(5)

    println("== 11. tokenizer training: BPE merges learned from the corpus ==")
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val merges = graft.operators.Bpe.learnMerges(docs, nMerges = 8)
    merges.show(8, truncate = false)
    println("   one merge step via SQL:")
    spark.sql(
      "SELECT bpe_merge(array('l','o','w','</w>'), 'o', 'w') AS merged").show()

    println("== 12. as-of join: every point vs its last completed 60m baseline ==")
    val purchase = pts.filter(col("tenant_id") === "purchase")
    val baseline = purchase.groupBy(col("tenant_id"), col("metric_name"),
        (col("ts_ms") - org.apache.spark.sql.functions.pmod(col("ts_ms"),
          org.apache.spark.sql.functions.lit(3600000L)) + 3600000L)
          .as("baseline_ms"))
      .agg(org.apache.spark.sql.functions.avg("value").as("baseline_avg"))
    graft.operators.TimeJoin.asOf(purchase, "ts_ms", baseline, "baseline_ms",
        Seq("tenant_id", "metric_name"), withinMs = Some(7200000L))
      .filter(col("baseline_avg").isNotNull)
      .withColumn("delta", col("value") - col("baseline_avg"))
      .show(5, truncate = false)

    println("== 13. DSIR: importance-resample the pool toward the 'en' slice ==")
    val w = graft.operators.TextScoring.dsirWeights(docs, col("lang") === "en")
    graft.operators.Sampling.gumbelTopK(
        docs.filter(col("lang") =!= "en").select("doc_id", "lang")
          .join(w, "doc_id"), "doc_id", "logw", 5)
      .select("doc_id", "lang", "logw", "rk")
      .orderBy("rk").show(5)

    println("== 14. media dedup: embeddings -> PNGs -> DCT pHash -> near-dup pairs ==")
    val cloned = emb.select("vec_id", "embedding").limit(50).unionByName(
      emb.select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
        .limit(3))
    graft.operators.Multimodal.imageNearDups(
        graft.operators.Multimodal.vectorsAsPngMedia(cloned, "vec_id",
          "embedding", 8), maxDist = 10)
      .show(5)

    println("== 15. render decimation: 20-point triangle downsample per series ==")
    graft.operators.Series.downsampleTriangle(purchase, buckets = 20)
      .filter(col("metric_name") === "app.purchase.user_10")
      .orderBy("bucket").show(20)
    println("   error-free M4 variant (per-bin time/value extremes), plus")
    println("   MAD outliers and 6h grid alignment on the same series:")
    val oneSeries = purchase.filter(col("metric_name") === "app.purchase.user_10")
    graft.operators.Series.m4Downsample(oneSeries, buckets = 6)
      .orderBy("bucket", "ts_ms").show(8)
    graft.operators.Series.madOutliers(oneSeries)
      .filter(col("is_outlier")).show(3)
    graft.operators.Series.resampleLinear(oneSeries, 21600000L).show(3)

    println("== 16. corpus search: persisted inverted index -> BM25 + KWIC ==")
    val corpusDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_demo_idx").toString
    graft.operators.TextScoring.writeTextIndex(corpusDocs, idx)
    println("   BM25 top-5 for {dup, join} served from the bucket-pruned index:")
    graft.operators.TextScoring.bm25TopKFromIndex(spark, idx,
      Seq("dup", "join"), k = 5).show(5, truncate = false)
    println("   concordance (KWIC) for the phrase 'stream table hash':")
    graft.operators.TextScoring.phraseSearch(corpusDocs, "stream table hash", ctx = 3)
      .orderBy("doc_id", "pos").show(5, truncate = false)

    println("== 17. Holt-Winters: seasonal forecast bands over hourly sums ==")
    val hourly = pts
      .groupBy(col("tenant_id"),
        (col("ts_ms") - org.apache.spark.sql.functions.pmod(col("ts_ms"),
          org.apache.spark.sql.functions.lit(3600000L))).cast("long")
          .as("ts_ms"))
      .agg(org.apache.spark.sql.functions.sum("value").as("value"))
      .withColumn("metric_name",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("tenant."), col("tenant_id")))
    graft.operators.Anomaly.holtWintersBands(hourly, season = 24,
        gamma = 0.5, minPoints = 24)
      .filter(col("is_aberrant"))
      .select("metric_name", "ts_ms", "value", "forecast", "upper", "lower")
      .show(5, truncate = false)

    println("== 18. REST facade: ingest with per-record errors, then query ==")
    val httpStore = java.nio.file.Files.createTempDirectory("graft_demo_http")
      .toString
    val nowFixed = 1704067200000L
    val srv = new graft.http.MetricsHttpServer(spark, httpStore,
      nowMs = () => nowFixed)
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def get(path: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}$path"))
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val t0 = nowFixed - 600000L
      val mixed = post("/v2.0/acme/ingest",
        s"""[{"metricName": "app.req.count", "metricValue": 12.5,
           |  "collectionTime": $t0, "unit": "req"},
           | {"metricName": "", "metricValue": 1.0, "collectionTime": $t0}]"""
          .stripMargin)
      println(s"   POST /ingest (1 valid + 1 invalid) -> ${mixed.statusCode()}")
      println(s"   ${mixed.body()}")
      val view = get(s"/v2.0/acme/views/app.req.count?from=${t0 / 1000 - 10}" +
        s"&to=${nowFixed / 1000}&resolution=full")
      println(s"   GET /views -> ${view.statusCode()}: ${view.body().take(220)}")
      // the v1.0 legacy alias serves the identical body
      val v1 = get(s"/v1.0/acme/experimental/views/metric_data/app.req.count" +
        s"?from=${t0 / 1000 - 10}&to=${nowFixed / 1000}&resolution=full")
      println(s"   GET /v1.0 experimental alias -> ${v1.statusCode()} " +
        s"(body == v2.0: ${v1.body() == view.body()})")
      // series/anomaly panel: EWMA bands over the ingested series
      val series = get(s"/v2.0/acme/series/app.req.count/ewma" +
        s"?from=${t0 / 1000 - 10}&to=${nowFixed / 1000}&resolution=full&k=3")
      println(s"   GET /series/.../ewma -> ${series.statusCode()}: " +
        series.body().take(220))
      // glob aggregation (sumSeries): :metric is a glob here
      val agg = get(s"/v2.0/acme/series/app.*/agg" +
        s"?from=${t0 / 1000 - 10}&to=${nowFixed / 1000}&resolution=full&stat=sum")
      println(s"   GET /series/app.*/agg?stat=sum -> ${agg.statusCode()}: " +
        agg.body().take(220))
      // alert episodes: the page-deduplicated incident view
      val alerts = get(s"/v2.0/acme/series/app.req.count/alerts" +
        s"?from=${t0 / 1000 - 10}&to=${nowFixed / 1000}&resolution=full")
      println(s"   GET /series/.../alerts -> ${alerts.statusCode()}: " +
        alerts.body().take(160))
      // Graphite render-API wire shape: what a Grafana graphite datasource
      // would actually send
      val render = get(s"/render?target=sumSeries(app.*)&tenant=acme" +
        s"&from=${t0 / 1000 - 10}&until=${nowFixed / 1000}")
      println(s"   GET /render?target=sumSeries(app.*) -> " +
        s"${render.statusCode()}: ${render.body().take(200)}")
      // composed cross-series arithmetic: a ratio panel in one nested
      // target, evaluated as ONE lazy plan
      val ratio = get("/render?target=" + java.net.URLEncoder.encode(
        "divideSeries(app.req.count,sumSeries(app.*))", "UTF-8") +
        s"&tenant=acme&from=${t0 / 1000 - 10}&until=${nowFixed / 1000}")
      println(s"   GET /render?target=divideSeries(app.req.count," +
        s"sumSeries(app.*)) -> ${ratio.statusCode()}: " +
        ratio.body().take(160))
      // the alert DAEMON's served sink (empty here — no daemon has closed
      // an episode on this fresh store; see graft.AlertDaemon)
      val eps = get("/v2.0/acme/alerts/episodes")
      println(s"   GET /alerts/episodes -> ${eps.statusCode()}: ${eps.body().take(80)}")

      println("== 19. operations: engine counters + catalog maintenance ==")
      println(s"   GET /metrics -> ${get("/metrics").body().take(300)} ...")
      println("   locator catalog (the metrics_metadata analog, maintained " +
        "at ingest):")
      graft.streaming.IngestStream.metricCatalog(spark, httpStore)
        .foreach(_.show(5, truncate = false))
      val folded = graft.streaming.IngestStream.compactCatalog(spark,
        httpStore, assumeQuiesced = true)
      println(s"   compactCatalog -> $folded (per-src folded batch ids)")
      println("   unified maintenance pass (retention + every compaction " +
        "+ ANN recall probes in one call):")
      println(Maintain.run(spark, httpStore, assumeQuiesced = true,
        ivfIndexPath = Some(s"$store/ivf"),
        recallQueries = Some(queries)).summary)
    } finally srv.stop()

    spark.stop()
  }
}
