package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `add_fields` transform: append computed columns from a function
  * registry.
  *
  * Same function surface as reference pipeline/transformer.py
  * (function_map: current_timestamp / batch_id / batch_date / run_id),
  * but compiled to `Column` expressions appended in one projection —
  * the reference round-trips through a temp view + SELECT per field;
  * here n added fields cost one narrow projection fused into
  * whole-stage codegen.
  *
  * Each field is wrapped in `batch_constant` ([[graft.plans.BatchConstant]]),
  * so a batch's date and timestamp reach generated code by reference
  * and the next batch reuses the compiled classes. `add_fields`
  * therefore needs `graft.plans.GraftExtensions` in the session, as
  * graft's text operators do; every session built by
  * [[graft.pipeline.RuntimeConfig]] has it.
  */
object AddFields {

  final case class BatchContext(batchId: Option[String], runId: Option[String])

  /** Resolve a registry function name to a Column. Unknown names fail
    * fast (same contract as the reference's ValueError).
    */
  def resolve(function: String, ctx: BatchContext): Column = function match {
    case "current_timestamp" => current_timestamp()
    case "batch_id"          => ctx.batchId.map(lit(_)).getOrElse(lit(null).cast("string"))
    case "batch_date"        => ctx.batchId.map(lit(_)).getOrElse(lit(null)).cast("date")
    case "run_id"            => ctx.runId.map(lit(_)).getOrElse(lit(null).cast("string"))
    case other if other.startsWith("literal:") => lit(other.stripPrefix("literal:"))
    case other =>
      throw new IllegalArgumentException(
        s"Unsupported function: '$other'. Supported functions: " +
          "[current_timestamp, batch_id, batch_date, run_id, literal:<value>]")
  }

  def apply(df: DataFrame, fields: Seq[(String, String)], ctx: BatchContext): DataFrame =
    df.withColumns(fields.map { case (name, fn) =>
      name -> call_function("batch_constant", resolve(fn, ctx))
    }.toMap)
}
