package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, SparkEntry}

/** The benchmark's JVM side: one closed-loop client over one local
  * session. `perfbench/run.py` launches it, reads `PERFBENCH_READY` off
  * stdout to time set-up, and turns the raw JSON it writes into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0 | 1),
  * data (the inputs), root (the run's temp root), out (the raw JSON),
  * check (where the untimed correctness pass writes) and cores. */
object Harness {

  type Out = mutable.Map[String, Any]

  /** etl_reports' queries: every fifth of the report-shaped set (SURVEY
    * §2 A+B rows plus the sketch reports: q01–q19, q33–q35, q38, q41,
    * q43, q44, q55–q67, q82, q83, q96, q97, q129, q133) up to q64, plus
    * the oracle-dark q60. */
  val EtlQueries: Seq[String] = Seq(
    "q01", "q06", "q11", "q16", "q34", "q44", "q59", "q60", "q64")

  /** Registered query name for a `qNN` prefix (exactly one must match). */
  def registered(prefix: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq
    require(hits.size == 1, s"$prefix matches ${hits.mkString(",")}")
    hits.head
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** oracle_sql.json for the named queries that carry an oracle, in
    * dev/compare_local.py's input layout. */
  def writeOracle(dir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json.writeValueAsString(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val root = a("root")
    val cores = a("cores").toInt
    val out: Out = mutable.Map("workload" -> workload, "seed" -> a("seed").toLong,
      "trace" -> (a("trace") == "1"), "cores" -> cores,
      "foreign_jvms_start" -> Window.foreignJvms(),
      "load_start" -> GraftSession.loadAvg1m())

    val t0 = System.nanoTime()
    // set after configure, whose own shuffle.partitions would win otherwise
    val spark = GraftSession.configure(SparkSession.builder().master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString,
      s"shuffle partitions ${spark.conf.get("spark.sql.shuffle.partitions")}, want $cores")
    val t1 = System.nanoTime()
    val inputs = workload match {
      case "etl_reports" => Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")
      case _ => Seq("documents")
    }
    inputs.foreach(t => spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))
    out("GraftSession.start_s") = (t1 - t0) / 1e9
    out("register_s") = (System.nanoTime() - t1) / 1e9
    println("PERFBENCH_READY")
    System.out.flush()

    val seed = a("seed").toLong
    val w: Workload = workload match {
      case "etl_reports" => new EtlReports(spark, data, seed)
      case "ingest_day2" => new IngestDay2(spark, data, root, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    new Runner(spark, new Recorder(spark), w, a("seconds").toDouble,
      a("trace") == "1", Seq(data, root), cores).run(out)
    w.correctness(a("check"), out)
    spark.stop()
    out("foreign_jvms_end") = Window.foreignJvms()
    out("load_end") = GraftSession.loadAvg1m()
    out("peak_rss_mb") = Window.vmHwmMb()
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(out.toMap))
  }
}

/** Window honesty: the foreign-JVM preflight (Bench's classification over
  * a /proc census) and the JVM's own peak resident set. */
object Window {
  def foreignJvms(): Seq[Long] = {
    val procs = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .toSeq.filter(_.getName.forall(_.isDigit)).flatMap { f =>
        try {
          val stat = Files.readString(Paths.get(s"/proc/${f.getName}/stat"))
          val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          val comm = Files.readString(Paths.get(s"/proc/${f.getName}/comm")).trim
          Some((f.getName.toLong, rest(1).toLong, comm))
        } catch { case _: Throwable => None }
      }
    Bench.foreignJvms(procs, ProcessHandle.current().pid())
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
