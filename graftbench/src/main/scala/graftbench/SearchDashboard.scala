package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables
import graft.search.JsonDsl
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Dashboard traffic: one client sends OpenSearch request bodies back to
  * back. Each request resolves its index through `Tables`, compiles the body
  * with `JsonDsl` and collects the response, as a dashboard backend would.
  */
object SearchDashboard {

  final case class Request(id: Int, template: String, api: String, index: String, body: String)

  private def request(n: JsonNode): Request =
    Request(n.get("id").asInt, n.get("template").asText, n.get("api").asText, n.get("index").asText, n.get("body").asText)

  def run(h: Harness, plan: JsonNode): Map[String, Any] = {
    val dir = Json.path(h.work, plan.get("tables"))
    val warmup = Json.readLines(h.work.resolve(plan.get("warmup").asText)).map(request)
    val requests = Json.readLines(h.work.resolve(plan.get("requests").asText)).map(request)
    val t = h.tracer

    def resolve(spark: SparkSession)(index: String): DataFrame = t.span("tables.read") {
      index match {
        case "orders"   => Tables.orders(spark, dir)
        case "lineitem" => Tables.lineitem(spark, dir)
        case "events"   => Tables.events(spark, dir)
        case "customer" => Tables.customer(spark, dir)
        case other      => throw new IllegalArgumentException(s"no such index: $other")
      }
    }

    def compile(spark: SparkSession, r: Request): DataFrame = r.api match {
      case "search"  => val df = resolve(spark)(r.index); t.span("search.compile")(JsonDsl.parse(df, r.body))
      case "count"   => val df = resolve(spark)(r.index); t.span("search.compile")(JsonDsl.countOnly(df, r.body))
      case "msearch" => t.span("search.compile")(JsonDsl.msearchCounts(resolve(spark), r.body, r.index))
    }

    // Set-up: session start plus one request per template. The repetitions
    // and then the further warm-up rotations, whose literals differ from
    // the window's, warm the JVM before the window starts.
    val rotation = plan.get("rotation").asInt
    for (_ <- 0 until plan.get("setup_reps").asInt)
      h.setupRep()(spark => warmup.take(rotation).foreach(r => compile(spark, r).collect()))
    val spark = h.spark
    warmup.drop(rotation).foreach(r => compile(spark, r).collect())

    val responses = mutable.LinkedHashMap.empty[Int, Seq[String]]
    // Whole rotations of the templates, so every window holds the same mix.
    h.closedLoop(rotation) { i =>
      val r = requests(i % requests.size)
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      var df: DataFrame = null
      val op = h.timed(Map("req" -> r.id, "template" -> r.template)) {
        t.span("request", r.id) {
          df = compile(spark, r)
          rows = t.span("search.exec", r.id)(df.collect())
        }
      }
      if (op.ok && !responses.contains(r.id)) responses(r.id) = rows.toSeq.map(_.json)
      val planning =
        if (op.ok && t.enabled) {
          val phases = df.queryExecution.tracker.phases
          Map("plan_ms" -> Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum)
        } else Map.empty
      op.copy(fields = op.fields ++ planning ++ Map("rows" -> rows.length))
    }
    Map("responses" -> responses.map { case (k, v) => k.toString -> v }.toMap)
  }
}
