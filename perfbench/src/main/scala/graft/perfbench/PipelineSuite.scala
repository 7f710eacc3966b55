package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** `pipeline_suite`: a fixed subset of the engine's named queries over bare
  * Parquet, in seed-shuffled order, one client, passes back to back.
  *
  * The catalog is not on this path: row compute, shuffle, the per-job
  * scheduling floor and the `Materialize` pins do the work, so a catalog
  * change must leave this workload unchanged. */
object PipelineSuite {

  /** The recorded subset: the BPE pair, dedup/similarity heavies, two
    * TPC-H queries and a light relational query. The python-spawning
    * gates are left out. Every entry has oracle SQL. */
  val Subset: Seq[String] = Seq(
    "q76_bpe_merges", "q79_bpe_encode", "q37_dedup_corpus", "q28b_ngram_jaccard",
    "q62_lm_score", "q85_tpch_q18", "q89_tpch_q2", "q07_semi_join")

  /** The workload's seed-drawn input beyond the tables: the query order. */
  def order(seed: Long): Seq[String] = Inputs.shuffle(Subset, new java.util.SplittableRandom(seed))

  def run(r: Run): Unit = {
    val cfg = r.cfg
    val spark = r.setup(SparkSide.session(cfg, cfg.work.resolve("warehouse")))
    val dir = cfg.data.toString

    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val seq = order(cfg.seed)
    val probe = new SparkProbe(spark, r)
    def releasePins(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // warm-up pass, outside the measured window: JIT, codegen, page cache;
    // its results are the ones checked against the oracle
    val expected = mutable.LinkedHashMap.empty[String, String]
    val checks = seq.flatMap { q =>
      scala.util.Try { val df = queries(q)(spark, dir); (df.columns, df.collect()) } match {
        case scala.util.Success((cols, rows)) =>
          releasePins()
          expected(q) = SparkSide.digest(rows)
          Some(JObject("name" -> JString(q),
            "oracle" -> oracle.get(q).map(JString(_)).getOrElse(JNull),
            "columns" -> JArray(cols.map(JString(_)).toList),
            "rows" -> JArray(rows.map(SparkSide.rowJson).toList)))
        case scala.util.Failure(e) =>
          releasePins()
          r.fail(s"$q (warm-up): ${e.getMessage}")
          None
      }
    }
    val checkFile = cfg.work.resolve("check-pipeline.json")
    Files.writeString(checkFile, JsonMethods.compact(JsonMethods.render(JArray(checks.toList))))
    r.checkFiles += checkFile
    r.heapAfterSetupMb = Jvm.heapAfterGcMb()

    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    /** One measured run of `q`; its cost when it succeeded. */
    def timed(q: String): Option[Cost] = {
      probe.begin()
      val (result, cost) = Cpu.metered(scala.util.Try(r.trace.op(s"query.$q") {
        val df = queries(q)(spark, dir)
        (df, df.collect())
      }))
      val ok = result match {
        case scala.util.Success((df, rows)) =>
          probe.end(Some(df)).foreach { acc =>
            r.layer("scan.bytes_read", acc.bytesRead)
            r.layer("scan.rows_read", acc.recordsRead)
            r.layer("scan.rows_read_per_row_returned", acc.recordsRead / math.max(1, rows.length).toDouble)
            r.layer("pins.rdds_live", spark.sparkContext.getPersistentRDDs.size)
            r.layer("pins.cached_bytes",
              spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
          }
          if (SparkSide.digest(rows) == expected(q)) Some(cost)
          else { r.fail(s"$q: result differs from the checked pass"); None }
        case scala.util.Failure(e) =>
          probe.end(None)
          r.fail(s"$q: ${e.getMessage}")
          None
      }
      releasePins()
      ok
    }
    r.measure {
      var pass = 0.0
      seq.foreach { q =>
        r.attempted += 1
        if (!expected.contains(q)) r.fail(s"$q: failed in the warm-up pass")
        else timed(q).foreach { c =>
          r.sample(q, c)
          pass += c.ms
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += c.ms / 1000.0
        }
      }
      passWalls += pass / 1000.0
    }
    r.retainedHeapMb = Jvm.heapAfterGcMb()
    if (cfg.trace) {
      perQuery.foreach { case (q, vs) => r.layerTotal(s"query.${q}_s", Stats.median(vs.toSeq)) }
      r.layerTotal("pipeline_wall_s", Stats.median(passWalls.toSeq))
    }
    spark.stop()
  }
}
