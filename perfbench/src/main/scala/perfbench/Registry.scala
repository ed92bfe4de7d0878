package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Q, SparkEntry}

/** The registry workload: the queries of `SparkEntry.registry` named in
  * `registry.tsv`, each run with a noop sink over fixed tables. The row
  * count of every run is taken with `observe` and compared with the
  * count the file records; the file also names each query's module.
  */
object Registry {

  /** One line of `registry.tsv`: a query, its module and its row count. */
  final case class Expected(query: String, module: String, rows: Long)

  /** Reads `registry.tsv`; `#` starts a comment line. */
  def readExpected(path: String): Seq[Expected] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, m, r) = l.split("\t"); Expected(q, m, r.toLong) }

  val PassSeconds = 5.0
  // each query's time is its median over at least three passes
  val MinPasses = 3

  /** Runs `q` once against `dir` into the noop sink; returns its rows. */
  def runOnce(spark: SparkSession, q: Q, dir: String): Long = {
    val obs = new Observation(s"rows_${q.name}")
    q.fn(spark, dir).observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  private def release(spark: SparkSession): Unit = {
    CacheScope.drain(blocking = true)
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, rec: Recorder, dataDir: String,
      expected: Seq[Expected], seconds: Double): Unit = {
    val sc = spark.sparkContext
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = expected.map(_.query).filterNot(byName.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(",")}")
    val queries = expected.map(e => (byName(e.query), e))

    // two untimed passes: the first compiles each query, and the second
    // still ran about 30% slower than the ones after it
    rec.span(sc, "warmup", "warmup", null) { wid =>
      (1 to 2).foreach { _ =>
        queries.foreach { case (q, _) =>
          try rec.span(sc, q.name, "warmup-query", wid)(_ => runOnce(spark, q, dataDir)) catch {
            case e: Throwable => System.err.println(s"[perfbench] warm-up ${q.name} failed: $e")
          }
          release(spark)
        }
      }
    }

    rec.settleJit()
    rec.endSetup()
    // a fixed number of passes, at 5 s a pass on 4 cores: with a
    // deadline instead, the pass count, and so the medians, moved with
    // the host's speed
    val passes = math.max(MinPasses, math.round(seconds / PassSeconds).toInt)
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    rec.span(sc, "registry", "workload", null) { wid =>
      (0 until passes).foreach { pass =>
        rec.span(sc, s"pass$pass", "rep", wid) { pid =>
          queries.foreach { case (q, want) =>
            val (rows, err, startMs, endMs) = rec.span(sc, q.name, "unit", pid) { _ =>
              val t0 = rec.now()
              val r = try Right(runOnce(spark, q, dataDir)) catch { case e: Throwable => Left(e) }
              (r.toOption, r.left.toOption, t0, rec.now())
            }
            err.foreach(e => System.err.println(s"[perfbench] ${q.name} failed: $e"))
            release(spark)
            runs += Map("pass" -> pass, "query" -> q.name, "module" -> want.module,
              "start_ms" -> startMs, "end_ms" -> endMs, "rows" -> rows.getOrElse(-1L),
              "expected_rows" -> want.rows, "ok" -> (err.isEmpty && rows.contains(want.rows)))
          }
        }
      }
    }
    rec.raw ++= Map("runs" -> runs.toSeq)
    val bad = runs.filter(_("ok") == false)
    rec.check("query_row_counts", runs.size, bad.size,
      bad.map(r => s"${r("query")}:${r("rows")}/${r("expected_rows")}").distinct.mkString(" "))
  }
}
