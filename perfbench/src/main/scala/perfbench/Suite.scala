package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `suite`: a fixed cross-section of `graft.SparkEntry.queries`, each
  * built by its closure and drained through the `noop` sink, in a
  * seed-shuffled order. One untimed sweep in set-up drains every query
  * once and checks its row count and order-independent digest against
  * the expected file; timed sweeps follow. */
object Suite {
  /** Which entries run: one cheap entry of each operator family
    * (relational, quality, dedup, vectors, extraction, span joins,
    * cleaning, HTML, sketches).
    * The full 188-entry catalogue takes minutes per sweep. */
  val Queries: Seq[String] = Seq(
    "q01_lineitem_agg", "q08_quality", "q14_minhash_pairs", "q18_ann_brute",
    "q24_extract_regex_tok", "q28_overlap_join", "q101_c4_clean",
    "q150_html_to_text", "q158_hll_distinct")

  /** Row count and an order-independent digest: columns sorted by name,
    * every value stringified, each row hashed, hashes summed — the same
    * canonical form scripts/oracle_check.py compares. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null")))
    val r = df.select(xxhash64(concat_ws("\u0001", cols.toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("string"))
      .collect()(0)
    (r.getLong(0), r.getString(1))
  }

  private def readExpected(path: java.nio.file.Path): Map[String, (Long, String)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(path.toFile).get("queries")
    root.fieldNames().asScala.map { n =>
      n -> ((root.get(n).get("rows").asLong(), root.get(n).get("digest").asText()))
    }.toMap
  }

  def run(c: Ctx, writeExpected: Option[String]): Unit = {
    val spark = c.spark
    val all = graft.SparkEntry.queries
    val rng = new scala.util.Random(c.seed)
    val expectedPath = java.nio.file.Paths.get(c.benchDir, "expected_digests.json")
    val expected = if (writeExpected.isDefined) Map.empty[String, (Long, String)]
      else readExpected(expectedPath)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    // untimed cold sweep: construction, seeding and codegen warm up here
    for (n <- rng.shuffle(Queries)) {
      c.result.attempted += 1
      try {
        c.drainNoop(all(n)(spark, c.inputs))
        val d = digest(all(n)(spark, c.inputs))
        got(n) = d
        if (writeExpected.isEmpty && !expected.get(n).contains(d))
          c.result.fail(s"$n: rows/digest $d, expected ${expected.get(n)}")
      } catch {
        case e: Exception => c.result.fail(s"$n (check sweep): ${e.getMessage}")
      }
    }
    writeExpected.foreach { key =>
      val body = got.map { case (n, (r, d)) =>
        s"""    "$n": {"rows": $r, "digest": "$d"}"""
      }.mkString(",\n")
      java.nio.file.Files.writeString(expectedPath,
        s"""{\n  "inputs": "$key",\n  "queries": {\n$body\n  }\n}\n""")
    }
    var s = 0
    c.measure { () =>
      val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val sweeps = mutable.ArrayBuffer.empty[Double]
      while (sweeps.size < 2 || c.elapsed < c.seconds) {
        val t0 = System.nanoTime()
        for (n <- rng.shuffle(Queries)) {
          val id = s"s$s/$n"
          c.result.attempted += 1
          try {
            val (_, t) = c.op("query", id) {
              val df = c.step("construct", n, s"$id/construct")(all(n)(spark, c.inputs))
              c.step("action", "noop", id)(c.drainNoop(df))
            }
            perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += t
          } catch {
            case e: Exception => c.result.fail(s"$id: ${e.getMessage}")
          }
        }
        sweeps += (System.nanoTime() - t0) / 1e9
        s += 1
      }
      val samples = perQuery.values.flatten.toSeq
      val (tl, pct, beyond) = Main.tail(samples)
      val geo = Main.geomean(perQuery.values.map(v => Main.median(v.toSeq)).toSeq)
      c.result.e2e("sweep_s") = (Main.median(sweeps.toSeq), "s")
      c.result.e2e("op_latency_s") = (geo, "s")
      c.result.e2e("items_per_s") = (samples.size / sweeps.sum, "1/s")
      c.result.info("query_geomean_s") = geo
      c.result.info("op_tail") = Map("value" -> tl, "percentile" -> pct,
        "beyond" -> beyond, "samples" -> samples.size)
      c.result.info("sweeps") = sweeps.size
    }
    c.result.info("queries") = Queries.size
  }
}
