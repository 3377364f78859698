package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    mode: String = "run",
    inputs: String = "",
    work: String = "",
    state: String = "",
    seconds: Double = 10,
    trace: Boolean = false,
    seed: Long = 0,
    cores: Int = 4,
    launchEpochNs: Long = 0,
    minWarm: Int = 2,
    warmup: Int = 0,
    reads: Int = 12)

/** Benchmark JVM. Modes:
  *  - `run`: set up the session, run the workload's cold op, warm ops
  *    and reads, check every output;
  *  - `prep`: set up the session and load `daily_increment`'s history.
  * The last stdout line is `PERFBENCH_JSON <record>`. */
object Main {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def parse(args: Array[String]): Args =
    args.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--mode", v)) => a.copy(mode = v)
      case (a, Array("--inputs", v)) => a.copy(inputs = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--state", v)) => a.copy(state = v)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
      case (a, Array("--launch-epoch-ns", v)) => a.copy(launchEpochNs = v.toLong)
      case (a, Array("--min-warm", v)) => a.copy(minWarm = v.toInt)
      case (a, Array("--warmup", v)) => a.copy(warmup = v.toInt)
      case (a, Array("--reads", v)) => a.copy(reads = v.toInt)
      case (_, other) => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }

  /** The session settings of the workload's production main:
    * `Pipeline.main` for the sensor workloads, `CurationPipeline.main`
    * for curation; only the master and shuffle partitions are pinned
    * to the benchmark's core count. */
  def session(workload: String, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
    val s = workload match {
      case "curate_corpus" => b
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      case _ => b.appName("graft-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .getOrCreate()
    }
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.workload, a.cores)
    val setupS = (epochNs() - a.launchEpochNs) / 1e9
    val tracer = if (a.trace && a.mode == "run") Some(new Tracer(spark.sparkContext)) else None
    val c = new Ctx(spark, a, tracer)
    val rec: Map[String, Any] = try {
      val body: Map[String, Any] = a.mode match {
        case "prep" => new DailyIncrement(c).prep()
        case "run" =>
          val w = a.workload match {
            case "backfill" => new Backfill(c)
            case "daily_increment" => new DailyIncrement(c)
            case "curate_corpus" => new CurateCorpus(c)
            case other => sys.error(s"unknown workload $other")
          }
          Runner.run(w, a.seconds, a.minWarm, a.warmup)
      }
      body ++ Map("setup_s" -> setupS, "attempted" -> c.attempted,
        "failures" -> c.failures.toSeq)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("setup_s" -> setupS, "attempted" -> math.max(1L, c.attempted),
          "failures" -> (c.failures.toSeq :+ s"${e.getClass.getName}: ${e.getMessage}"))
    }
    tracer.foreach { t =>
      t.drain()
      Files.write(c.work.resolve("spans.json"), json.writeValueAsBytes(t.spans.toSeq))
    }
    spark.stop()
    println("PERFBENCH_JSON " + json.writeValueAsString(rec))
  }
}
