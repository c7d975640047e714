package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.cdc.IndexPipeline
import graft.search.JsonDsl
import graft.sinks.IndexFileSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** CDC ingest with one batch in flight: each cycle lands one file of
  * Debezium envelopes, runs `IndexPipeline.runStream` (AvailableNow) to
  * termination, then queries the index through `IndexFileSink.readIndex` +
  * `JsonDsl` until the batch's documents come back.
  */
object CdcIngest {

  final case class Cycle(file: String, envelopes: Int, firstTs: Long)

  /** Land a file atomically: Spark's file source skips dot-files, so the
    * copy is invisible until the rename.
    */
  private def land(src: Path, landing: Path): Unit = {
    val tmp = landing.resolve("." + src.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, landing.resolve(src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  def run(h: Harness, plan: JsonNode): Map[String, Any] = {
    val t = h.tracer
    val indexName = plan.get("index").asText
    val snapshot = h.work.resolve(plan.get("snapshot").asText)
    val cycles = Json.nodes(plan.get("cycles")).map(c =>
      Cycle(c.get("file").asText, c.get("envelopes").asInt, c.get("first_ts").asLong)
    )

    final class Pipeline(val root: Path) {
      val landing: Path = Files.createDirectories(root.resolve("landing"))
      val index: Path = Files.createDirectories(root.resolve("index"))
      val checkpoint: Path = root.resolve("checkpoint")
      def stream(spark: SparkSession): StreamingQuery =
        IndexPipeline.runStream(spark, landing.toString, index.toString, indexName, checkpoint.toString, "id")
    }

    // The readback: every document whose latest version came from this
    // batch or later, by the sequence number the pipeline stores.
    def readback(spark: SparkSession, p: Pipeline, firstTs: Long): Seq[String] = {
      val body = s"""{"query":{"range":{"seq":{"gte":$firstTs}}},"size":1000000,"_source":["_id"]}"""
      JsonDsl.parse(IndexFileSink.readIndex(spark, p.index.toString, indexName), body).collect().map(_.getString(0)).toSeq
    }

    def apply(spark: SparkSession, p: Pipeline): StreamingQuery = t.span("cdc.apply") {
      val q = t.span("streaming.start")(p.stream(spark))
      q.awaitTermination()
      q
    }

    // Set-up: session start plus the snapshot sync (op=r envelopes through
    // the same streaming path), each repetition into a fresh pipeline
    // directory.
    val setupReps = plan.get("setup_reps").asInt
    var pipeline: Pipeline = null
    for (r <- 0 until setupReps) h.setupRep() { spark =>
      pipeline = new Pipeline(h.work.resolve(s"pipeline-$r"))
      land(snapshot, pipeline.landing)
      apply(spark, pipeline).exception.foreach(e => throw e)
    }
    val spark = h.spark
    val p = pipeline

    var next = 0
    def cycle(fields: Map[String, Any] = Map.empty): Op = {
      require(next < cycles.size, s"the generator wrote ${cycles.size} cycles; this run needs more")
      val c = cycles(next)
      next += 1
      var ids: Seq[String] = Nil
      var ingestEnd = 0.0
      var query: StreamingQuery = null
      val op = h.timed(Map("cycle" -> (next - 1), "envelopes" -> c.envelopes) ++ fields) {
        t.span("cycle", next - 1) {
          t.span("loadgen.land")(land(h.work.resolve(c.file), p.landing))
          query = apply(spark, p)
          ingestEnd = t.now()
          query.exception.foreach(e => throw e)
          ids = t.span("sinks.readback")(readback(spark, p, c.firstTs))
        }
      }
      val progress =
        if (query == null) Map.empty[String, Any]
        else {
          val ps = query.recentProgress.toSeq
          val durations = ps.flatMap(_.durationMs.asScala.toSeq).groupMapReduce(_._1)(_._2.longValue)(_ + _)
          val state = ps.lastOption.toSeq.flatMap(_.stateOperators)
          Map(
            "durations_ms" -> durations,
            "input_rows" -> ps.map(_.numInputRows).sum,
            "state_rows" -> state.map(_.numRowsTotal).sum,
            "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
            "sink_rows" -> ps.map(_.sink.numOutputRows).filter(_ >= 0).sum
          )
        }
      val index =
        if (!t.enabled) Map.empty[String, Any]
        else {
          val files = scala.util.Using.resource(Files.list(p.index.resolve(indexName)))(_.iterator().asScala.toList)
          Map("index_files" -> files.size, "index_bytes" -> files.map(Files.size).sum)
        }
      op.copy(fields = op.fields ++ progress ++ index ++ Map("ingest_end" -> ingestEnd, "ids" -> ids))
    }

    // Untimed warm-up by work count: the first cycles warm the readback
    // path, which set-up does not run.
    val warm = Seq.fill(plan.get("warmup_cycles").asInt)(cycle(Map("warmup" -> true)))
    h.closedLoop()(_ => cycle())
    Map(
      "cycles_run" -> next,
      "warmup" -> warm.map(Harness.json),
      "index_dir" -> h.work.relativize(p.index.resolve(indexName)).toString
    )
  }
}
