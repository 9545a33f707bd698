package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.operators.{Maintain, Pipeline, Urls}
import graft.sources.Warc
import graft.streaming.EventsStream
import graft.streaming.EventsStream.StreamChunk

/** One timed unit of work. The body marks its closure and exec phases on
  * the [[OpCtx]]; `inputRecords` is the op's own input size where it has
  * one (a micro-batch's records). */
final case class Op(name: String, body: OpCtx => Unit, inputRecords: Long = 0L)

final class OpCtx {
  var closure: Option[(Double, Double)] = None
  var exec: Option[(Double, Double)] = None
  def inClosure[T](f: => T): T = {
    val t0 = Clock.nowMs; try f finally closure = Some((t0, Clock.nowMs))
  }
  def inExec[T](f: => T): T = {
    val t0 = Clock.nowMs; try f finally exec = Some((t0, Clock.nowMs))
  }
}

/** A workload: a one-time build, then passes of ops. Pass 0 runs in the
  * fresh JVM (the cold pass); later passes are the steady state. */
trait Workload {
  def build(out: Harness.Out): Unit = ()
  /** Untimed reset before a pass (state the pass consumes). */
  def beforePass(pass: Int): Unit = ()
  def ops(pass: Int): Seq[Op]
  /** Timed tail of a pass, inside the pass wall. */
  def finishPass(pass: Int, rec: Harness.Out): Unit = ()
  /** Untimed checks of a pass's output; returns the failures. */
  def checkPass(pass: Int, rec: Harness.Out): Seq[String] = Nil
  /** The untimed correctness pass after the timed ones. */
  def correctness(dir: String, out: Harness.Out): Unit = ()
  /** The cold part is pass 0's first op and the run is that one pass
    * (else the cold part is all of pass 0 and steady passes follow). */
  def coldIsFirstOp: Boolean = false

  protected def timed(out: Harness.Out, key: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime(); f; out(key) = (System.nanoTime() - t0) / 1e9
  }
}

/** A registered query as an op: the closure builds the DataFrame (and runs
  * whatever it materializes eagerly), the exec phase drives it through
  * the `noop` sink as `graft.Bench` does. */
object QueryOp {
  def apply(spark: SparkSession, data: String, name: String): Op = Op(name, ctx => {
    val df = ctx.inClosure(SparkEntry.queries(name)(spark, data))
    ctx.inExec(df.write.format("noop").mode("overwrite").save())
  })

  /** Verify's dump of one query result, for the oracle compare. */
  def dump(spark: SparkSession, data: String, names: Seq[String], dir: String,
           out: Harness.Out): Unit = {
    val failed = names.flatMap { n =>
      try {
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        None
      } catch { case e: Throwable => Some(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    Harness.writeOracle(dir, names)
    out("check_failures") = failed
  }
}

final class EtlReports(spark: SparkSession, data: String, seed: Long) extends Workload {
  private val names = Harness.EtlQueries.map(Harness.registered)
  /** The seed's permutation, drawn once per run and kept for every pass. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(names)
  def ops(pass: Int): Seq[Op] = order.map(QueryOp(spark, data, _))
  override def correctness(dir: String, out: Harness.Out): Unit =
    QueryOp.dump(spark, data, names, dir, out)
}

/** Day-2 door: a day-1 bundle built under the run root, then one pass
  * that streams the seed's micro-batches through the master ingest stream
  * over that bundle and ends with one maintenance tick. The first
  * micro-batch is the cold part, the rest of the pass the steady state. */
final class IngestDay2(spark: SparkSession, data: String, root: String, seed: Long)
    extends Workload {
  import spark.implicits._
  // the 5 batch chunks of a 1000-document corpus: a cold and a steady batch
  private val microBatches = 2
  private val bundle = s"$root/bundle"
  private val fatesTable = "fates"
  private var batches: Seq[Seq[StreamChunk]] = Nil
  private var expected: Set[Long] = Set.empty
  private var inputBytes = 0L
  private var mem: MemoryStream[StreamChunk] = _
  private var query: StreamingQuery = _

  override def coldIsFirstOp: Boolean = true

  override def build(out: Harness.Out): Unit = {
    val docs = Tables(spark, data).documents.localCheckpoint()
    val bl = Urls.docBlocklist.toDF("pattern")
    val day1 = Warc.plantedMasterChunks(docs).filter(col("chunk_id") % 5 =!= 4)
    var front: Pipeline.MasterFront = null
    timed(out, "Pipeline.front_s") {
      front = Pipeline.masterFront(day1, "chunk_id", "content", bl,
        Pipeline.MasterIngestSeed, minWords = 15, maxWords = 120,
        maxDupFrac = 0.65, jaccardTau = 0.8, winnowMinPrints = 60L,
        _ => _.localCheckpoint())
    }
    timed(out, "Pipeline.persist_s") {
      Pipeline.persistMasterArtifacts(Pipeline.masterArtifactsOf(front, 0.8), bundle)
    }
    timed(out, "Pipeline.load_s") {
      val art = Pipeline.loadMasterArtifacts(spark, bundle)
      Seq(art.urlIndex, art.exactIndex, art.prefixPostings, art.prefixGrams,
        art.prefixVocab, art.winnowIndex, art.evalGrams).foreach(_.schema)
    }
    out("build_s") = Seq("Pipeline.front_s", "Pipeline.persist_s", "Pipeline.load_s")
      .map(out(_).asInstanceOf[Double]).sum
    val chunks = Warc.plantedMasterBatchChunks(docs)
      .select(col("chunk_id"), col("content")).as[StreamChunk].collect().toSeq
    val byId = chunks.map(c => c.chunk_id -> c).toMap
    batches = Split.split(chunks.map(_.chunk_id), seed, microBatches).map(_.map(byId))
    expected = chunks.flatMap(c =>
      (1 to Split.records(c.content)).map(i => (c.chunk_id << 32) + i)).toSet
    inputBytes = chunks.map(_.content.getBytes("UTF-8").length.toLong).sum
    out("batch_chunks") = batches.map(_.size)
    out("batch_records") = expected.size
    out("input_bytes") = inputBytes
  }

  override def beforePass(pass: Int): Unit = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "rec_id BIGINT, host STRING, fate STRING, dup_of BIGINT, " +
            "n_spans BIGINT, removed_chars BIGINT, n_tokens BIGINT, ids STRING"))
      .write.format("parquet").saveAsTable(fatesTable)
    mem = MemoryStream[StreamChunk](implicitly[org.apache.spark.sql.Encoder[StreamChunk]],
      spark.sqlContext)
    query = EventsStream.masterIngestStream(mem.toDF(), bundle, fatesTable,
      s"$root/checkpoint", Urls.docBlocklist, Pipeline.MasterIngestSeed)
  }

  def ops(pass: Int): Seq[Op] = batches.zipWithIndex.map { case (b, i) =>
    Op(s"batch$i", ctx => ctx.inExec {
      mem.addData(b)
      query.processAllAvailable()
    }, inputRecords = b.map(c => Split.records(c.content).toLong).sum)
  }

  override def finishPass(pass: Int, rec: Harness.Out): Unit = {
    query.stop()
    val t0 = System.nanoTime()
    val healed = Maintain.maintainMasterBundle(spark, bundle)
    rec("Maintain.tick_s") = (System.nanoTime() - t0) / 1e9
    rec("Maintain.healed") = healed.size
  }

  override def checkPass(pass: Int, rec: Harness.Out): Seq[String] = {
    spark.catalog.refreshTable(fatesTable)
    val fates = spark.table(fatesTable).select(col("rec_id"), col("fate"))
      .as[(Long, String)].collect().toSeq
    rec("fates_hist") = fates.groupBy(_._2).map { case (k, v) => k -> v.size }
    val stored = treeBytes(Paths.get(bundle)) +
      treeBytes(Paths.get(s"$root/warehouse/$fatesTable"))
    rec("store_bytes_per_input_byte") = stored.toDouble / inputBytes
    val ids = fates.map(_._1)
    Seq(
      if (ids.size != ids.distinct.size) Some("a record has more than one fate") else None,
      if (ids.toSet != expected)
        Some(s"${(expected -- ids).size} input records without a fate, " +
          s"${(ids.toSet -- expected).size} fates for unknown records")
      else None).flatten
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** The seed's micro-batch split: chunks ordered by hash(chunk_id, seed)
  * and dealt round-robin, so the batches are disjoint, cover every chunk,
  * differ in size by at most one and depend only on (ids, seed, k). */
object Split {
  def rank(chunkId: Long, seed: Long): Int =
    scala.util.hashing.MurmurHash3.orderedHash(Seq(chunkId, seed))

  def split(ids: Seq[Long], seed: Long, k: Int): Seq[Seq[Long]] = {
    require(k >= 1 && ids.size >= k, s"need at least $k chunks, got ${ids.size}")
    val dealt = ids.distinct.sortBy(id => (rank(id, seed), id)).zipWithIndex
    (0 until k).map(b => dealt.collect { case (id, i) if i % k == b => id })
  }

  /** WARC records in a raw chunk (each opens with a `WARC/1.0` line). */
  def records(content: String): Int = "(?m)^WARC/1\\.0$".r.findAllMatchIn(content).size
}
