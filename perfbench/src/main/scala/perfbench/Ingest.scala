package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{Incremental, LakeToWarehouse}
import graft.gen.FarmProducer
import graft.stream.{IngestStream, Throttle}

/** The ingest workload. Sensors are independent users, so arrivals are
  * an open loop: a generator thread lands one FarmProducer shard every
  * [[IntervalMs]] while the consumer calls `IngestStream.start` back to
  * back, each call an AvailableNow "Lambda invocation" that drains what
  * has landed. The traced run then loads the landed lake into the
  * warehouse: `LakeToWarehouse.validReadings`, then [[Increments]]
  * `Incremental.load` calls. The program under test only ever sees the
  * generated files.
  */
object Ingest {

  // 40 events/s as 20-event shards every 0.5 s. Few enough files that
  // listing them stays about 1% of an invocation (0.1 s shards raised it
  // to 6%); few enough rows that the fixed cost dominates: at
  // 100 events/s a long invocation left a backlog that made the next
  // one longer still
  val EventsPerShard = 20
  val IntervalMs = 500L
  // a run lands at least this many shards, so the tail rule (10 samples
  // beyond the percentile) reaches p75
  val MinShards = 40
  val Increments = 3

  final case class Dirs(root: String) {
    val src = s"$root/src"; val lake = s"$root/lake"
    val alerts = s"$root/alerts"; val ckpt = s"$root/ckpt"
    val warehouse = s"$root/warehouse"
  }

  /** FarmProducer records split into `shards` files of consecutive event
    * ids (and so of event time), in id order.
    */
  def writeShards(spark: SparkSession, dir: String, shards: Int, seed: Long): Seq[File] = {
    val gen = s"$dir/gen"
    FarmProducer.records(spark, shards.toLong * EventsPerShard, seed, numPartitions = 4).write.text(gen)
    val lines = new File(gen).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .toSeq.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
    require(lines.size == shards * EventsPerShard, s"generated ${lines.size} events")
    lines.grouped(EventsPerShard).zipWithIndex.map { case (ls, i) =>
      val f = new File(dir, f"shard-$i%05d.json")
      Files.write(f.toPath, ls.mkString("", "\n", "\n").getBytes(UTF_8))
      f
    }.toSeq
  }

  /** One "Lambda invocation": both AvailableNow queries of
    * `IngestStream.start`, run to completion. Returns the progress of
    * every micro-batch, and the error that stopped a query if one did.
    */
  def invoke(spark: SparkSession, d: Dirs): (Seq[Map[String, Any]], Option[Throwable]) = {
    val (lakeQ, alertQ) = IngestStream.start(
      IngestStream.fileSource(spark, d.src), d.lake, d.alerts, d.ckpt)
    val err = Seq(lakeQ, alertQ).flatMap { q =>
      try { q.awaitTermination(); None } catch { case e: Throwable => q.stop(); Some(e) }
    }.headOption
    ((lakeQ.recentProgress ++ alertQ.recentProgress).toSeq.map(Trace.progress), err)
  }

  /** `LakeToWarehouse.validReadings` over the landed lake, then
    * [[Increments]] `Incremental.load` calls over successive event-time
    * slices. Each slice starts half a slice before the previous one
    * ended, so the watermark rule has rows to reject. Each increment
    * writes its four dims and appends its fact rows as parquet; the next
    * one reads them back. Returns the slice bounds.
    */
  def warehouse(spark: SparkSession, rec: Recorder, d: Dirs, parent: String): Seq[(Double, Double)] = {
    val sc = spark.sparkContext
    val wh = d.warehouse
    rec.span(sc, "valid_readings", "etl", parent) { _ =>
      LakeToWarehouse.validReadings(spark.read.json(d.lake))
        .write.mode("overwrite").parquet(s"$wh/valid_readings")
    }
    val readings = spark.read.parquet(s"$wh/valid_readings")
    val ts = col("timestamp").cast("double")
    val (lo, hi) = {
      val r = readings.agg(min(ts), max(ts)).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val step = (hi - lo) / Increments
    val slices = (0 until Increments).map { j =>
      (if (j == 0) lo else lo + (j - 0.5) * step, if (j == Increments - 1) hi else lo + (j + 1) * step)
    }
    slices.zipWithIndex.foreach { case ((a, b), j) =>
      rec.span(sc, s"increment$j", "etl", parent) { _ =>
        val fact = if (j == 0) None else Some(spark.read.parquet(s"$wh/fact"))
        val dims = if (j == 0) None else {
          val Seq(l, t, s, w) = DimNames.map(n => spark.read.parquet(s"$wh/$n-${j - 1}"))
          Some((l, t, s, w))
        }
        val res = Incremental.load(readings.filter(ts.between(a, b)), fact, dims)
        res.newFactRows.foreach(_.write.mode("append").parquet(s"$wh/fact"))
        Seq(res.dimLocation, res.dimTime, res.dimSoil, res.dimWeather).zip(DimNames).foreach {
          case (Some(df), n) => df.write.mode("overwrite").parquet(s"$wh/$n-$j")
          case (None, _) => ()
        }
        res.newReadings.unpersist()
      }
    }
    slices
  }

  val DimNames = Seq("dim_location", "dim_time", "dim_soil", "dim_weather")

  def run(spark: SparkSession, rec: Recorder, root: String, seed: Long, seconds: Double): Unit = {
    val sc = spark.sparkContext
    val shards = math.max(MinShards.toLong, math.round(seconds * 1000 / IntervalMs)).toInt
    val events = shards.toLong * EventsPerShard
    val staged = writeShards(spark, s"$root/stage", shards, seed)

    // the first invocation in a JVM compiles the ingest path's code, and
    // the second the restart from an existing checkpoint; they read
    // shards of their own on a checkpoint of their own
    rec.span(sc, "warmup", "warmup", null) { _ =>
      val w = Dirs(s"$root/warm")
      new File(w.src).mkdirs()
      writeShards(spark, s"$root/warm-stage", 4, seed).zipWithIndex.grouped(2).foreach { fs =>
        fs.foreach { case (f, i) => land(f, w.src, i, System.currentTimeMillis()) }
        invoke(spark, w)._2.foreach(e => throw e)
      }
    }
    rec.settleJit()
    rec.endSetup()

    val d = Dirs(s"$root/live")
    new File(d.src).mkdirs()
    val movedAt = new Array[Double](shards)
    val t0 = rec.now() + 200.0
    val gen = new Thread(() => {
      staged.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * IntervalMs
        val wait = due - rec.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(f, d.src, i, due.toLong)
        movedAt(i) = rec.now()
      }
    }, "perfbench-generator")

    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    val invocations = mutable.ArrayBuffer.empty[Map[String, Any]]
    def covered(q: String): Long =
      progress.filter(_("query") == q).map(_("rows").asInstanceOf[Long]).sum
    val deadline = t0 + seconds * 4000 + 60000
    rec.span(sc, "ingest_live", "workload", null) { wid =>
      gen.start()
      while ((gen.isAlive || covered("graft-ingest-lake") < events ||
          covered("graft-ingest-alerts") < events) && rec.now() < deadline) {
        rec.span(sc, "invocation", "unit", wid) { _ =>
          val start = rec.now()
          val (p, err) = invoke(spark, d)
          progress ++= p
          err.foreach(e => System.err.println(s"[perfbench] invocation failed: $e"))
          invocations += Map("start_ms" -> start, "end_ms" -> rec.now(),
            "ok" -> err.isEmpty, "run_ids" -> p.map(_("run_id")).distinct)
        }
      }
      gen.join()
    }
    // a batch ETL job starts cold, so the warehouse stage gets no warm-up
    val slices = if (rec.trace) warehouse(spark, rec, d, null) else Nil
    if (rec.trace) probes(spark, rec, d)
    rec.raw ++= Map(
      "t0_ms" -> t0,
      "shards" -> Seq.fill(shards)(EventsPerShard),
      "due_ms" -> (0 until shards).map(i => t0 + i * IntervalMs),
      "moved_ms" -> movedAt.toSeq,
      "progress" -> progress.toSeq,
      "invocations" -> invocations.toSeq)

    rec.span(sc, "checks", "check", null) { _ =>
      rec.check("invocations_ok", invocations.size, invocations.count(_("ok") == false))
      checkLanded(spark, rec, d.lake, events)
      checkAlerts(spark, rec, d.src, d.alerts)
      if (slices.nonEmpty) checkWarehouse(spark, rec, d.warehouse, slices)
    }
  }

  /** The record path's stages as static queries over every landed
    * record, each into the noop sink, so the traced report can split
    * per-record cost by module. Each runs twice; the second, warm run is
    * the one reported.
    */
  def probes(spark: SparkSession, rec: Recorder, d: Dirs): Unit = {
    val sc = spark.sparkContext
    val records = spark.read.text(d.src).withColumnRenamed("value", "raw").cache()
    records.count()
    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val stages: Seq[(String, () => Unit)] = Seq(
      "rules.process_s" -> (() => noop(IngestStream.process(records))),
      "schema.flatten_s" -> (() => noop(IngestStream.flattened(IngestStream.process(records)))),
      "throttle.static_s" -> (() => noop(Throttle(IngestStream.occurrences(IngestStream.process(records))).toDF())),
      "sink.lake_write_s" -> (() => IngestStream.flattened(IngestStream.process(records))
        .write.mode("overwrite").partitionBy("route", "loc_id").json(s"${d.root}/probe-lake")))
    stages.foreach { case (name, run) =>
      run()
      rec.span(sc, name, "probe", null)(_ => run())
    }
    records.unpersist()
  }

  /** Moves `f` into `dir` as the `i`-th shard (an atomic rename) and
    * stamps its mtime, which orders the file source's picks.
    */
  def land(f: File, dir: String, i: Int, mtimeMs: Long): Unit = {
    val dst = new File(dir, f"shard-$i%05d.json")
    Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst.setLastModified(mtimeMs)
  }

  /** Every generated event id lands in the lake exactly once. */
  def checkLanded(spark: SparkSession, rec: Recorder, lake: String, events: Long): Unit = {
    val ids = spark.read.schema("event_id STRING").json(lake).collect().map(_.getString(0))
    val counts = ids.groupBy(identity).view.mapValues(_.length).toMap
    val once = (0L until events).count(i => counts.get(f"evt_$i%012d").contains(1))
    rec.check("events_landed_exactly_once", events, events - once, s"lake_rows=${ids.length}")
  }

  /** The alert sink's rows equal a static throttle over the same records. */
  def checkAlerts(spark: SparkSession, rec: Recorder, src: String, alerts: String): Unit = {
    val cols = Seq("locId", "alertType", "priority", "eventId", "eventTime", "sentTime").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val records = spark.read.text(src).withColumnRenamed("value", "raw")
    val expected = rows(Throttle(IngestStream.occurrences(IngestStream.process(records))).toDF())
    val actual = rows(spark.read.parquet(alerts))
    val n = expected.values.sum
    val wrong = (expected.keySet ++ actual.keySet).toSeq
      .map(k => math.abs(expected.getOrElse(k, 0) - actual.getOrElse(k, 0))).sum
    rec.raw("alerts_sent") = n
    rec.check("alerts_equal_static_throttle", n.toLong max 1, wrong,
      s"expected=$n sink=${actual.values.sum}")
  }

  /** Fact rows are exactly the readings the watermark rule admits, and
    * every dim key is unique. The admitted set is computed here from the
    * slices alone: a reading is admitted by the first slice that holds
    * it and is newer than every reading admitted before.
    */
  def checkWarehouse(spark: SparkSession, rec: Recorder, wh: String, slices: Seq[(Double, Double)]): Unit = {
    val readings = spark.read.parquet(s"$wh/valid_readings")
      .select(col("event_id"), col("timestamp").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    var wm = Double.NegativeInfinity
    val admitted = mutable.LinkedHashSet.empty[String]
    slices.foreach { case (a, b) =>
      val fresh = readings.filter { case (_, ts) => ts >= a && ts <= b && ts > wm }
      admitted ++= fresh.map(_._1)
      if (fresh.nonEmpty) wm = wm max fresh.map(_._2).max
    }
    val fact = spark.read.parquet(s"$wh/fact").select("evt_id").collect().map(_.getString(0))
    val factSet = fact.toSet
    val wrong = admitted.count(id => !factSet.contains(id)) +
      factSet.count(id => !admitted.contains(id)) + (fact.length - factSet.size)
    val presented = slices.map { case (a, b) => readings.count { case (_, ts) => ts >= a && ts <= b } }.sum
    rec.raw("fact_rows") = fact.length
    rec.check("fact_equals_admitted_readings", admitted.size.toLong max 1, wrong,
      s"admitted=${admitted.size} fact_rows=${fact.length} rejected=${presented - admitted.size}")
    val keys = Seq("location_key", "full_date", "soil_key", "weather_key")
    val dup = DimNames.zip(keys).map { case (n, k) =>
      val df = spark.read.parquet(s"$wh/$n-${slices.size - 1}")
      df.count() - df.select(k).distinct().count()
    }
    rec.check("dim_keys_unique", keys.size, dup.count(_ != 0), s"duplicates=${dup.mkString(",")}")
  }
}
