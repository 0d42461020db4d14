package perfbench

import org.apache.spark.sql.functions._
import graft.streaming.DocumentStreams
import graft.sources.Storage

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest`: the self-updating near-dup loop with q169's knobs, against
  * stored index and corpus tables seeded from the generated seed corpus.
  * Per batch: `ingestProbeThenUpdate` plus draining its pairs; takedowns
  * through `recordDeletions`, maintenance through `runMaintenance`.
  * Batch 0 and the first `WarmCycles` cycles, with their takedowns and
  * maintenance, are the warm-up; at least `MinCycles` whole cycles are
  * timed. */
object Ingest {
  val K = 8
  val Bands = 4
  val ShingleK = 3
  val Threshold = 0.7
  val Buckets = 8
  /** Untimed cycles after batch 0: the first batches of a fresh JVM run
    * far slower; the timed medians absorb what is left of the warm-up. */
  val WarmCycles = 1
  /** Timed cycles at least: on a typical host every run times the same
    * ops, and a slow host times no fewer of them. */
  val MinCycles = 2

  /** Word 3-shingle set under the library's word rule ([a-z0-9]+ runs
    * of the lowercased text). */
  def shingles(text: String): Set[String] = {
    val w = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toIndexedSeq
    if (w.size < ShingleK) Set.empty
    else w.sliding(ShingleK).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x | y).size
    if (u == 0) 0.0 else (x & y).size.toDouble / u
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${c.inputs}/ingest.json"))
    val batchMeta = meta.get("batches").elements().asScala.toIndexedSeq
    val maintEvery = meta.get("maint_every").asInt()
    val injected = meta.get("injected").fields().asScala
      .map(e => e.getKey.toLong -> e.getValue.asLong()).toMap
    val tables = s"${c.work}/tables"
    val (idx, cor, ts) = ("bench_idx", "bench_cor", "bench_ts")
    val (idxPath, corPath, tsPath) = (s"$tables/idx", s"$tables/cor", s"$tables/ts")

    // bench bookkeeping: every doc's text, and which ids are live
    val t0 = System.nanoTime()
    val texts = mutable.HashMap.empty[Long, String]
    val live = mutable.HashSet.empty[Long]
    spark.read.parquet(s"${c.inputs}/seed.parquet").as[(Long, String)]
      .collect().foreach { case (i, t) => texts(i) = t; live += i }
    val batchDocs = spark.read.parquet(s"${c.inputs}/batches.parquet")
      .select("batch", "doc_id", "text").as[(Int, Long, String)].collect()
    batchDocs.foreach { case (_, i, t) => texts(i) = t }
    val batchIds = batchDocs.groupBy(_._1).map { case (b, r) => b -> r.map(_._2) }
    var liveBytes = live.iterator.map(texts(_).getBytes("UTF-8").length.toLong).sum
    var userBytes = 0L

    val t1 = System.nanoTime()
    // seed the stored tables from the seed corpus
    val seed = spark.read.parquet(s"${c.inputs}/seed.parquet")
    Storage.writeBucketed(graft.operators.Dedup.lshBandIndex(seed, K, Bands, ShingleK),
      idx, idxPath, bucketCol = "key", buckets = Buckets)
    Storage.writeBucketed(seed.select("doc_id", "text"), cor, corPath,
      bucketCol = "doc_id", buckets = Buckets)

    val t2 = System.nanoTime()
    val batchLat, takedownLat, maintLat = mutable.ArrayBuffer.empty[Double]
    var loopWall = 0.0
    var docsAbsorbed = 0L
    var pairsTotal = 0L
    var injectedSeen, injectedFound = 0L
    var valveTrips = 0
    var timed = false

    def ingest(b: Int): Unit = {
      val df = spark.read.parquet(f"${c.inputs}/batches/$b%05d.parquet")
      val ids = batchIds(b)
      if (c.tracer.enabled) {
        // probe-key valve: more distinct band keys than maxProbeKeys
        val keys = df.select(explode(graft.operators.Dedup.lshBandKeys(
          graft.operators.Dedup.minhashSignature(col("text"), K, ShingleK),
          K, Bands))).distinct().count()
        if (keys > 4096) valveTrips += 1
      }
      val id = s"b$b"
      c.result.attempted += 1
      val (pairs, t) = c.op("batch", id) {
        val p = c.step("construct", "ingestProbeThenUpdate", s"$id/construct") {
          DocumentStreams.ingestProbeThenUpdate(df, idx, cor,
            threshold = Threshold, k = K, bands = Bands, shingleK = ShingleK,
            indexBuckets = Buckets, corpusBuckets = Buckets,
            tombstoneTable = Some(ts))
        }
        c.step("action", "collect", id)(p.collect())
      }
      // verify every pair against the bench's own texts; `live` does not
      // hold this batch yet
      val idSet = ids.toSet
      val bad = pairs.count { r =>
        val (bi, di, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val exact = jaccard(texts(bi), texts(di))
        !idSet.contains(bi) || !live.contains(di) ||
          exact < Threshold - 1e-3 || math.abs(exact - j) > 2e-3
      }
      if (bad > 0) c.result.fail(s"$id: $bad of ${pairs.length} pairs failed re-verification")
      val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      ids.foreach { i =>
        injected.get(i).filter(live.contains).foreach { src =>
          if (timed) {
            injectedSeen += 1
            if (found.contains((i, src))) injectedFound += 1
          }
        }
      }
      ids.foreach { i => live += i; liveBytes += texts(i).getBytes("UTF-8").length }
      if (timed) {
        userBytes += ids.map(texts(_).getBytes("UTF-8").length.toLong).sum
        batchLat += t
        loopWall += t
        docsAbsorbed += ids.length
        pairsTotal += pairs.length
      }
    }

    def takedown(b: Int): Unit = {
      val ids = batchMeta(b).get("takedown").elements().asScala.map(_.asLong()).toSeq
      if (ids.nonEmpty) {
        c.result.attempted += 1
        val df = ids.toDF("doc_id")
        val (_, t) = c.op("takedown", s"t$b", primary = false) {
          DocumentStreams.recordDeletions(df, ts, tsPath, buckets = Buckets)
        }
        ids.foreach { i => if (live.remove(i)) liveBytes -= texts(i).getBytes("UTF-8").length }
        if (timed) { takedownLat += t; loopWall += t }
      }
    }

    def maintain(b: Int): Unit = {
      c.result.attempted += 1
      val (_, t) = c.op("maintenance", s"m$b", primary = false) {
        DocumentStreams.runMaintenance(spark, Some(ts),
          Seq((idx, "key", Buckets, "dup_id"), (cor, "doc_id", Buckets, "doc_id")),
          tombstoneBuckets = Buckets)
      }
      if (timed) { maintLat += t; loopWall += t }
      // table row counts must match the bench's bookkeeping
      Seq(cor -> live.size.toLong, idx -> Bands.toLong * live.size, ts -> 0L)
        .foreach { case (tbl, want) =>
          spark.catalog.refreshTable(tbl)
          val n = spark.table(tbl).count()
          if (n != want) c.result.fail(s"m$b: $tbl has $n rows, bookkeeping says $want")
        }
    }

    def step(b: Int): Unit = {
      ingest(b)
      takedown(b)
      if (b % maintEvery == 0) maintain(b)
    }

    (0 to maintEvery * WarmCycles).foreach(step)
    c.result.info("setup_parts_s") = Map("load" -> (t1 - t0) / 1e9,
      "seed_tables" -> (t2 - t1) / 1e9, "warm_up" -> (System.nanoTime() - t2) / 1e9)
    var b = maintEvery * WarmCycles + 1
    c.measure { () =>
      Seq(batchLat, takedownLat, maintLat).foreach(_.clear())
      loopWall = 0.0
      docsAbsorbed = 0L
      pairsTotal = 0L
      injectedSeen = 0L
      injectedFound = 0L
      valveTrips = 0
      userBytes = 0L
      timed = true
      // whole maintenance cycles: maintEvery batches, their takedowns and
      // the maintenance that closes the cycle
      val cycles = mutable.ArrayBuffer.empty[Double]
      var cycleStart = 0.0
      while (b < batchMeta.size && (cycles.size < MinCycles ||
          c.elapsed < c.seconds || b % maintEvery != 1)) {
        step(b)
        if (b % maintEvery == 0) { cycles += loopWall - cycleStart; cycleStart = loopWall }
        b += 1
      }
      val stored = Seq(idx, cor, ts).flatMap { t =>
        spark.catalog.refreshTable(t)
        spark.table(t).inputFiles.map(f => new java.io.File(new java.net.URI(f)).length)
      }
      val (tl, pct, beyond) = Main.tail(batchLat.toSeq)
      val res = c.result
      res.e2e("sweep_s") = (Main.median(cycles.toSeq), "s")
      res.e2e("op_latency_s") = (Main.median(batchLat.toSeq), "s")
      res.e2e("items_per_s") = (docsAbsorbed / loopWall, "1/s")
      res.info("batch_p50_s") = Main.median(batchLat.toSeq)
      res.info("batch_tail_s") = Map("value" -> tl, "percentile" -> pct,
        "beyond" -> beyond, "samples" -> batchLat.size)
      res.info("takedown_p50_s") = Main.median(takedownLat.toSeq)
      res.info("maint_p50_s") = Main.median(maintLat.toSeq)
      res.info("docs_per_s") = docsAbsorbed / loopWall
      res.info("space_amp") = stored.sum.toDouble / liveBytes
      res.info("batches") = batchLat.size
      res.info("batch_s") = batchLat.toSeq
      res.info("takedowns") = takedownLat.size
      res.info("maintenance_cycles") = maintLat.size
      res.info("live_docs") = live.size
      c.facts ++= Seq("streams.pairs" -> pairsTotal.toDouble,
        "streams.valve_trips" -> valveTrips.toDouble,
        "streams.injected_recall" -> injectedFound.toDouble / math.max(1L, injectedSeen),
        "user_bytes" -> userBytes.toDouble, "files" -> stored.size.toDouble)
    }
  }
}
