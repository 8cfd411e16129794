package graft.pipeline

import scala.collection.mutable

import graft.io.{SinkWriter, SourceReader}
import graft.meta._
import graft.operators.{AddFields, Validator}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executes a metadata-defined dataflow (reference pipeline/runner.py,
  * the per-flow body of run_pipeline).
  *
  * Differences from the reference, on purpose:
  *   - intermediate results live in a local name→DataFrame catalog,
  *     not global temp views — flows are isolated and re-entrant;
  *   - no `count()` per stage. The reference forces an action (a full
  *     job) after every source/transform/sink purely for logging; at
  *     100 TB that multiplies cost by the stage count.
  *   - everything stays one lazy Catalyst plan until a sink forces it,
  *     so filter/projection pushdown crosses stage boundaries.
  *   - a flow's sinks write concurrently ([[SinkWriter.writeAll]]).
  *     If one fails, runFlow raises its error only after every other
  *     sink's write has ended, so nothing still writes when it throws;
  *     sinks that succeeded keep their output.
  */
object Runner {

  final case class StageReport(
      name: String,
      stageType: String,
      status: String,
      detail: Map[String, String] = Map.empty)

  final case class FlowResult(
      catalog: Map[String, DataFrame],
      report: Seq[StageReport])

  final case class RunContext(
      batchId: Option[String],
      runId: Option[String],
      substitutions: Map[String, String]) {
    def subs: SourceReader.Substitutions = SourceReader.Substitutions(
      substitutions ++ batchId.map("date" -> _).toMap)
    def addFieldsCtx: AddFields.BatchContext = AddFields.BatchContext(batchId, runId)
  }

  /** Execute one dataflow. `writeSinks=false` keeps sink inputs in the
    * returned catalog without writing (used by dry runs and by the
    * correctness harness).
    */
  def runFlow(
      spark: SparkSession,
      flow: DataflowDef,
      ctx: RunContext,
      writeSinks: Boolean = true,
      initialCatalog: Map[String, DataFrame] = Map.empty): FlowResult = {

    val catalog = mutable.LinkedHashMap[String, DataFrame](initialCatalog.toSeq: _*)
    val report = mutable.ArrayBuffer[StageReport]()

    def require_(view: String, stage: String): DataFrame =
      catalog.getOrElse(view, throw new MetadataError(
        s"Input view '$view' does not exist (required by '$stage')"))

    for (source <- flow.sources) {
      SourceReader.readOrSkip(spark, source, ctx.subs) match {
        case Right(df) =>
          catalog(source.name) = df
          report += StageReport(source.name, "source", "success",
            Map("path" -> SourceReader.resolvePath(source, ctx.subs),
                "schema_enforced" -> source.schemaEnforced.toString))
        case Left(reason) =>
          report += StageReport(source.name, "source", "skipped", Map("reason" -> reason))
      }
    }

    for (t <- flow.transformations) t match {
      case AddFieldsDef(name, input, fields) =>
        catalog(name) = AddFields(require_(input, name), fields, ctx.addFieldsCtx)
        report += StageReport(name, "transformation", "success",
          Map("type" -> "add_fields", "fields" -> fields.map(_._1).mkString(",")))
      case ValidateFieldsDef(name, input, validations) =>
        val v = Validator.validate(require_(input, name), validations)
        catalog(s"${name}_ok") = v.ok
        catalog(s"${name}_ko") = v.ko
        report += StageReport(name, "transformation", "success",
          Map("type" -> "validate_fields",
              "ok_view" -> s"${name}_ok", "ko_view" -> s"${name}_ko"))
    }

    val sinkInputs = flow.sinks.map(sink => require_(sink.input, sink.name) -> sink)
    if (writeSinks) {
      val paths = SinkWriter.writeAll(sinkInputs, ctx.subs)
      flow.sinks.zip(paths).foreach { case (sink, path) =>
        report += StageReport(sink.name, "sink", "success", Map("path" -> path))
      }
    } else flow.sinks.foreach { sink =>
      report += StageReport(sink.name, "sink", "skipped", Map("reason" -> "dry-run"))
    }

    FlowResult(catalog.toMap, report.toSeq)
  }
}
