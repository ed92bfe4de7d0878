package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark run in one JVM:
  * {{{
  * perfbench.Main --workload <ingest_live|registry> --seed <n>
  *   --seconds <s> --trace <0|1> --cpus <n> --tmp <dir> --out <file>
  *   --data <table dir> --registry <registry.tsv>
  * }}}
  * Writes everything it measured to `--out` as one JSON object; `run.py`
  * turns that into metrics. Every file the run writes lives under `--tmp`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val rec = new Recorder(opt("trace") == "1")
    val tmp = opt("tmp")

    val spark = GraftSession.local(opt("cpus"))
    if (rec.trace) Trace.install(spark, rec)
    workload match {
      case "ingest_live" => Ingest.run(spark, rec, s"$tmp/work", seed, seconds)
      case "registry" =>
        Registry.run(spark, rec, opt("data"), Registry.readExpected(opt("registry")), seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    Files.writeString(Paths.get(opt("out")), rec.toJson)
    graft.stream.OrderlyShutdown.stop(spark)
  }
}
