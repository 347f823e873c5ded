package graft.core

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Reader-vs-rewrite atomicity ([[SnapshotStore]]) — the one failure mode
  * the reference's row-atomic Cassandra writes never had (VERDICT r9 #1):
  * a `views`/`render` read racing a dirty-day rewrite must never see a
  * missing or partial day. The racing test here drives the publish/read
  * protocol from concurrent threads hard enough that the OLD dynamic
  * partition overwrite reproducibly tears (measured in docs/SCALE.md); the
  * snapshot protocol must survive the same schedule with zero anomalies. */
class AtomicServeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val Day0 = 1704067200000L

  private def gen(n: Int, value: Double): DataFrame =
    (0 until n).map(i => ("t", s"m$i", Day0 + i * 1000L, value))
      .toDF("tenant_id", "metric_name", "ts_ms", "value")
      .withColumn("ts_day", lit(Day0))

  test("publish/read: per-day swap, previous-generation retention, " +
    "replaceAll, plain-table fallback and migration, mixed-layout guard") {
    val root = Files.createTempDirectory("graft_snap").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens(day: Long): Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/ts_day=$day")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).filter(_.startsWith("gen=")).toSet
    }
    // absent table reads as None
    assert(SnapshotStore.read(spark, root).isEmpty)
    // first publish lands at gen=0 and serves exactly its rows
    SnapshotStore.publish(gen(5, 1.0), root)
    assert(gens(Day0) === Set("gen=0"))
    val r1 = SnapshotStore.read(spark, root).get
    assert(!r1.columns.contains("gen"), "gen must never escape the reader")
    assert(r1.count() === 5 &&
      r1.select("value").distinct().as[Double].collect().toSeq === Seq(1.0))
    // second publish swaps the winner, RETAINS the previous generation
    SnapshotStore.publish(gen(5, 2.0), root)
    assert(gens(Day0) === Set("gen=0", "gen=1"))
    assert(SnapshotStore.read(spark, root).get
      .select("value").distinct().as[Double].collect().toSeq === Seq(2.0))
    // third publish at ZERO reader grace GCs gen=0 (keep winner + one
    // previous — the minimum retention; the default 15 min grace is
    // pinned by the slow-reader test below)
    SnapshotStore.publish(gen(5, 3.0), root, readerGraceMs = 0L)
    assert(gens(Day0) === Set("gen=1", "gen=2"))
    // dirty-day semantics: publishing another day leaves day0 untouched
    val day1 = Day0 + 86400000L
    SnapshotStore.publish(gen(3, 9.0).withColumn("ts_day", lit(day1)), root)
    assert(SnapshotStore.read(spark, root).get.count() === 8)
    // replaceAll drops days absent from the new data (full-rebuild)
    SnapshotStore.publish(gen(4, 5.0), root, replaceAll = true)
    assert(gens(day1).isEmpty && !fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/ts_day=$day1")))
    assert(SnapshotStore.read(spark, root).get.count() === 4)
    // leaked staging from a "crash" is INVISIBLE to readers (a crashed
    // publish that wrote data but never committed a rename serves
    // nothing) and is cleared by the next publish
    val dead = new org.apache.hadoop.fs.Path(s"$root/.staging-dead")
    fs.mkdirs(dead)
    gen(9, 99.0).drop("ts_day")
      .write.parquet(s"$root/.staging-dead/ts_day=$Day0")
    assert(SnapshotStore.read(spark, root).get
      .filter(col("value") === 99.0).count() === 0,
      "uncommitted staging data must never serve")
    SnapshotStore.publish(gen(4, 6.0), root)
    assert(!fs.exists(dead))

    // plain-table fallback: a store never published through the protocol
    // reads through ordinary discovery
    val plain = Files.createTempDirectory("graft_snap_plain").toString + "/t"
    gen(3, 7.0).write.partitionBy("ts_day").parquet(plain)
    assert(SnapshotStore.read(spark, plain).get.count() === 3)
    // ... and the first publish MIGRATES it (plain day wrapped to gen=0,
    // new day committed as its own generation)
    SnapshotStore.publish(
      gen(2, 8.0).withColumn("ts_day", lit(day1)), plain)
    val migrated = SnapshotStore.read(spark, plain).get
    assert(migrated.count() === 5)
    assert(migrated.filter(col("ts_day") === Day0)
      .select("value").distinct().as[Double].collect().toSeq === Seq(7.0))
    // a HAND-MADE mixed layout (one day plain, one gen'd) fails loud
    val mixed = Files.createTempDirectory("graft_snap_mixed").toString + "/t"
    gen(2, 1.0).write.partitionBy("ts_day").parquet(mixed)
    gen(2, 2.0).withColumn("ts_day", lit(day1)).drop("ts_day")
      .write.parquet(s"$mixed/ts_day=$day1/gen=0")
    intercept[IllegalArgumentException](SnapshotStore.read(spark, mixed))
    // ... but an EMPTY day dir (crash between publish's mkdirs and its
    // commit rename) is not data: neither a mixed-layout failure nor a
    // served day
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/ts_day=${day1 + 86400000L}"))
    assert(SnapshotStore.read(spark, root).get.count() === 4)
  }

  test("RACE: concurrent publishes never serve a reader a torn day — " +
    "every racing read sees one complete generation") {
    val root = Files.createTempDirectory("graft_snap_race").toString + "/t"
    val N = 400
    val Gens = 7
    SnapshotStore.publish(gen(N, 0.0), root)
    val stop = new AtomicBoolean(false)
    val anomalies = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reads = new AtomicInteger(0)
    val perReader = Array.fill(2)(new AtomicInteger(0))
    val readers = (0 until 2).map { ri =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val rows = SnapshotStore.read(spark, root).get
              .groupBy(col("value")).agg(count(lit(1)).as("n"))
              .collect()
            reads.incrementAndGet()
            perReader(ri).incrementAndGet()
            // torn day = rows of MORE than one generation value, or a
            // generation served with missing/duplicated rows
            if (rows.length != 1)
              anomalies.add(s"mixed generations: ${rows.mkString(",")}")
            else if (rows(0).getLong(1) != N)
              anomalies.add(s"partial day: ${rows(0)}")
          } catch {
            case e: Throwable => anomalies.add(s"read failed: $e")
          }
        }
      })
    }
    readers.foreach(_.start())
    // publisher: each generation rewrites the SAME day with a new value.
    // Retention keeps one previous generation, so a reader that resolved
    // just before a swap still reads intact files — the guarantee under
    // test. The contract covers ONE publish per in-flight read (a second
    // publish GCs the generation a still-running read resolved — the
    // documented LOUD failure), so the publisher paces on reader
    // progress: after each publish it waits until both readers completed
    // a read, which keeps every publish racing in-flight reads without
    // ever outrunning one by two generations (under full-suite box load
    // a single read can outlast two unpaced publishes — observed).
    (1 to Gens).foreach { g =>
      val before = perReader.map(_.get())
      SnapshotStore.publish(gen(N, g.toDouble), root)
      // EACH reader must complete a read after this publish returned —
      // its next read then resolves the new winner, so no read in flight
      // at the NEXT publish can still hold a generation that publish GCs
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (perReader.zip(before).exists { case (c, b) => c.get() <= b } &&
        System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    stop.set(true)
    readers.foreach(_.join(60000))
    assert(reads.get() >= 3, s"race never overlapped (reads=${reads.get()})")
    assert(anomalies.isEmpty,
      s"${anomalies.size} torn/failed reads: ${anomalies.peek()}")
    // the final state serves the last generation exactly
    assert(SnapshotStore.read(spark, root).get
      .select("value").distinct().as[Double].collect().toSeq
      === Seq(Gens.toDouble))
  }

  test("reader grace: a slow read survives TWO publishes of its day — " +
    "superseded generations are retained for the grace window") {
    val root = Files.createTempDirectory("graft_snap_grace").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gensOnDisk: Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/ts_day=$Day0")
      fs.listStatus(d).map(_.getPath.getName).filter(_.startsWith("gen=")).toSet
    }
    SnapshotStore.publish(gen(5, 1.0), root)
    // the slow read: resolve the snapshot NOW, collect only after two
    // more publishes of the same day — the schedule the r10 protocol
    // (exactly-one-previous retention) demonstrably failed
    val slow = SnapshotStore.read(spark, root).get
    SnapshotStore.publish(gen(5, 2.0), root)
    SnapshotStore.publish(gen(5, 3.0), root)
    assert(gensOnDisk === Set("gen=0", "gen=1", "gen=2"),
      "generations superseded less than the grace ago must be retained")
    assert(slow.select("value").distinct().as[Double].collect().toSeq
      === Seq(1.0), "a read resolved before two publishes must still " +
      "serve its own complete generation")
    // a fresh read serves the newest generation (retention never bleeds
    // old generations into new resolutions)
    assert(SnapshotStore.read(spark, root).get
      .select("value").distinct().as[Double].collect().toSeq === Seq(3.0))
    // once superseded longer than the grace, old generations ARE GC'd
    // (grace 0 here: everything superseded before this publish goes)
    SnapshotStore.publish(gen(5, 4.0), root, readerGraceMs = 0L)
    assert(gensOnDisk === Set("gen=2", "gen=3"),
      "aged-out generations must be GC'd down to winner + previous")
  }

  test("publish validates staged day names BEFORE any commit: a null " +
    "ts_day fails loud with nothing committed and no staging leak") {
    val root = Files.createTempDirectory("graft_snap_null").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.publish(gen(3, 1.0), root)
    val bad = gen(2, 9.0).withColumn("ts_day",
      when(col("metric_name") === "m0", lit(null)).otherwise(col("ts_day")))
    val e = intercept[IllegalArgumentException](SnapshotStore.publish(bad, root))
    assert(e.getMessage.contains("ts_day"))
    // nothing committed: the prior generation still serves, alone
    assert(SnapshotStore.read(spark, root).get
      .select("value").distinct().as[Double].collect().toSeq === Seq(1.0))
    assert(Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(root, ".staging-*")))
      .getOrElse(Array.empty).isEmpty, "failed publish must not leak staging")
  }

  test("husk winner falls back: a parquet-less newest generation serves " +
    "the previous complete one, not a dropped day") {
    val root = Files.createTempDirectory("graft_snap_husk").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.publish(gen(4, 1.0), root)
    // simulate a crash that committed an empty gen=1 (rename of a slice
    // that wrote no parquet for this day)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/ts_day=$Day0/gen=1"))
    val r = SnapshotStore.read(spark, root)
    assert(r.isDefined, "day must not vanish behind a husk generation")
    assert(r.get.select("value").distinct().as[Double].collect().toSeq
      === Seq(1.0))
  }

  test("range-pruned read: only requested days resolve and serve; a " +
    "range with no overlapping day reads as None") {
    val root = Files.createTempDirectory("graft_snap_range").toString + "/t"
    val day1 = Day0 + 86400000L
    SnapshotStore.publish(gen(4, 1.0), root)
    SnapshotStore.publish(gen(3, 2.0).withColumn("ts_day", lit(day1)), root)
    val d0 = SnapshotStore.read(spark, root, days = Some(Seq(Day0))).get
    assert(d0.count() === 4 &&
      d0.select("value").distinct().as[Double].collect().toSeq === Seq(1.0))
    val both = SnapshotStore.read(spark, root,
      days = Some(Seq(Day0, day1))).get
    assert(both.count() === 7)
    assert(SnapshotStore.read(spark, root,
      days = Some(Seq(Day0 + 10L * 86400000L))).isEmpty,
      "no overlapping day = no data in range")
  }

  test("resolution memo: one FS resolution per publish generation; a " +
    "publish invalidates; range reads prune from the cached map") {
    val root = Files.createTempDirectory("graft_snap_memo").toString + "/t"
    val day1 = Day0 + 86400000L
    def resolutions: Long = SnapshotStore.resolutionsOf(root)
    SnapshotStore.publish(gen(3, 1.0), root)
    SnapshotStore.publish(gen(2, 2.0).withColumn("ts_day", lit(day1)), root)
    val r0 = resolutions
    assert(SnapshotStore.read(spark, root, useCache = true).get.count() === 5)
    assert(resolutions === r0 + 1)
    // second cached read — and a RANGE read — hit the memo, zero listings
    assert(SnapshotStore.read(spark, root, useCache = true).get.count() === 5)
    assert(SnapshotStore.read(spark, root, days = Some(Seq(day1)),
      useCache = true).get.count() === 2)
    assert(resolutions === r0 + 1,
      "reads within one publish generation must reuse the cached resolution")
    // a publish moves the fence: exactly one fresh resolution after
    SnapshotStore.publish(gen(3, 3.0), root)
    assert(SnapshotStore.read(spark, root, useCache = true).get
      .filter(col("ts_day") === Day0)
      .select("value").distinct().as[Double].collect().toSeq === Seq(3.0))
    assert(resolutions === r0 + 2)
  }

  test("cross-process fence: a FOREIGN publish (separate memo key, same " +
    "physical table — two facades on one store) is visible to a memoized " +
    "reader at its NEXT request, through its _version fence") {
    // a symlinked second path gives the same physical directory a
    // different SnapshotStore root key: its memo is independent, exactly
    // a publish from another JVM — the reader's in-process invalidation
    // never fires, only the _version fence can surface the change
    val base = java.nio.file.Files.createTempDirectory("graft_snap_fence")
    val real = base.resolve("t")
    java.nio.file.Files.createDirectory(real)
    val link = base.resolve("t_foreign")
    java.nio.file.Files.createSymbolicLink(link, real)
    val root = real.toString
    SnapshotStore.publish(gen(3, 1.0), root)
    def resolutions: Long = SnapshotStore.resolutionsOf(root)
    assert(SnapshotStore.read(spark, root, useCache = true).get.count() === 3)
    val r0 = resolutions
    assert(SnapshotStore.read(spark, root, useCache = true).get
      .select("value").distinct().as[Double].collect().toSeq === Seq(1.0))
    assert(resolutions === r0, "second read must be memoized")
    // the foreign publish rewrites the shared _version file (new mtime);
    // nothing in this process invalidates `root`
    SnapshotStore.publish(gen(3, 9.0), link.toString)
    assert(SnapshotStore.read(spark, root, useCache = true).get
      .select("value").distinct().as[Double].collect().toSeq === Seq(9.0),
      "the fence must surface the foreign publish within ONE request")
    assert(resolutions === r0 + 1)
  }
}
