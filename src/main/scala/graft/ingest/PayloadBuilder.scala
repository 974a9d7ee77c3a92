package graft.ingest

import java.lang.StringBuilder
import java.sql.Timestamp
import java.time.Instant
import java.time.format.DateTimeFormatter

import scala.collection.immutable.ListMap

import graft.core.{Clock, EventType, LogEntry, SystemClock}
import graft.sink.LogSink

/** Ingest-side event capture: one handler per callback (reference
  * logger.py:252-415, E1–E12 in SURVEY §2.2), all funneling through the
  * standard-payload builder (logger.py:168-187) into a [[LogSink]].
  *
  * Pure JVM code — payload construction happens wherever the event is
  * raised (driver or executor); only the resulting [[LogEntry]] rows touch
  * Spark. Empty string, never null, is the absent-value sentinel
  * (logger.py:170-171).
  */
class ParquetLogger(
    sink: LogSink,
    eventTypes: Set[String] = EventType.Default,
    loggerMetadata: Map[String, Any] = Map.empty,
    clock: Clock = SystemClock)
    extends AutoCloseable {

  /** Serialized once at construction (logger.py:76-79). */
  private val metadataJson: String = Json.write(loggerMetadata)

  // ---- E1: on_llm_start (logger.py:252-269) -------------------------------
  def onLlmStart(
      serialized: Map[String, Any],
      prompts: Seq[String],
      runId: String,
      parentRunId: Option[String] = None,
      tags: Seq[String] = Nil,
      metadata: Map[String, Any] = Map.empty,
      extra: Map[String, Any] = Map.empty): Unit =
    handle(EventType.LlmStart, runId, parentRunId, tags, metadata,
      data = Json.obj(
        "prompts" -> prompts,
        "llm_type" -> serialized.get("_type"),
        "serialized" -> serialized,
        "model" -> modelOf(serialized),
        "invocation_params" -> extra.get("invocation_params"),
        "tools" -> extra.get("tools")),
      raw = Map("serialized" -> serialized, "prompts" -> prompts) ++ extra)

  // ---- E2: on_chat_model_start (logger.py:271-287) ------------------------
  def onChatModelStart(
      serialized: Map[String, Any],
      messages: Seq[Any],
      runId: String,
      parentRunId: Option[String] = None,
      tags: Seq[String] = Nil,
      metadata: Map[String, Any] = Map.empty,
      extra: Map[String, Any] = Map.empty): Unit =
    handle(EventType.ChatModelStart, runId, parentRunId, tags, metadata,
      data = Json.obj(
        "messages" -> messages,
        "llm_type" -> serialized.get("_type"),
        "serialized" -> serialized,
        "model" -> modelOf(serialized),
        "invocation_params" -> extra.get("invocation_params")),
      raw = Map("serialized" -> serialized, "messages" -> messages) ++ extra)

  // ---- E3: on_llm_end (logger.py:289-307) ---------------------------------
  def onLlmEnd(
      response: Map[String, Any],
      runId: String,
      parentRunId: Option[String] = None,
      tags: Seq[String] = Nil,
      extra: Map[String, Any] = Map.empty): Unit = {
    val llmOutput = response.get("llm_output") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    handle(EventType.LlmEnd, runId, parentRunId, tags, Map.empty,
      data = Json.obj(
        "response" -> response,
        "usage" -> llmOutput.get("token_usage"),
        "model" -> llmOutput.get("model_name"),
        "response_metadata" -> extractGenMeta(response, "response_metadata"),
        "usage_metadata" -> extractGenMeta(response, "usage_metadata")),
      raw = Map("response" -> response) ++ extra)
  }

  // ---- E4/E7/E10: error handlers (logger.py:309-318, :341-350, :375-384) --
  def onLlmError(error: Throwable, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    errorEvent(EventType.LlmError, error, runId, parentRunId, tags)
  def onChainError(error: Throwable, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    errorEvent(EventType.ChainError, error, runId, parentRunId, tags)
  def onToolError(error: Throwable, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    errorEvent(EventType.ToolError, error, runId, parentRunId, tags)

  private def errorEvent(eventType: String, error: Throwable, runId: String,
      parentRunId: Option[String], tags: Seq[String]): Unit =
    handle(eventType, runId, parentRunId, tags, Map.empty,
      data = Json.obj("error" -> Json.obj(
        "message" -> error.getMessage, "type" -> error.getClass.getSimpleName)),
      raw = Map("error" -> error))

  // ---- E5/E6: chain start/end (logger.py:320-339) -------------------------
  def onChainStart(
      serialized: Map[String, Any],
      inputs: Map[String, Any],
      runId: String,
      parentRunId: Option[String] = None,
      tags: Seq[String] = Nil,
      metadata: Map[String, Any] = Map.empty): Unit =
    handle(EventType.ChainStart, runId, parentRunId, tags, metadata,
      data = Json.obj(
        "inputs" -> inputs, "serialized" -> serialized,
        "model" -> serialized.get("name")),
      raw = Map("serialized" -> serialized, "inputs" -> inputs))

  def onChainEnd(outputs: Any, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    handle(EventType.ChainEnd, runId, parentRunId, tags, Map.empty,
      data = Json.obj("outputs" -> outputs),
      raw = Map("outputs" -> outputs))

  // ---- E8/E9: tool start/end (logger.py:352-373) --------------------------
  def onToolStart(
      serialized: Map[String, Any],
      inputStr: String,
      runId: String,
      parentRunId: Option[String] = None,
      tags: Seq[String] = Nil,
      metadata: Map[String, Any] = Map.empty): Unit =
    handle(EventType.ToolStart, runId, parentRunId, tags, metadata,
      data = Json.obj(
        "input_str" -> inputStr, "serialized" -> serialized,
        "model" -> serialized.get("name"),
        "description" -> serialized.get("description")),
      raw = Map("serialized" -> serialized, "input_str" -> inputStr))

  def onToolEnd(output: Any, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    handle(EventType.ToolEnd, runId, parentRunId, tags, Map.empty,
      data = Json.obj("output" -> output),
      raw = Map("output" -> output))

  // ---- E11/E12: agent action/finish (logger.py:386-415) -------------------
  def onAgentAction(tool: String, toolInput: Any, log: String, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    handle(EventType.AgentAction, runId, parentRunId, tags, Map.empty,
      data = Json.obj("action" -> Json.obj(
        "tool" -> tool, "tool_input" -> toolInput, "log" -> log)),
      raw = Map("tool" -> tool, "tool_input" -> toolInput, "log" -> log))

  def onAgentFinish(returnValues: Map[String, Any], log: String, runId: String,
      parentRunId: Option[String] = None, tags: Seq[String] = Nil): Unit =
    handle(EventType.AgentFinish, runId, parentRunId, tags, Map.empty,
      data = Json.obj("finish" -> Json.obj(
        "return_values" -> returnValues, "log" -> log)),
      raw = Map("return_values" -> returnValues, "log" -> log))

  /** Generic entry for synthetic event types (background retrieval, A10). */
  def logEvent(eventType: String, runId: String, customId: String,
      data: ListMap[String, Any]): Unit =
    if (eventTypes.contains(eventType) ||
      eventType.startsWith("background_retrieval")) {
      emit(eventType, runId, None, Nil, Map.empty, data, Map.empty,
        customIdOverride = Some(customId))
    }

  def flush(): Unit = sink.flush()
  override def close(): Unit = sink.close()

  // ---- E13 gate + payload assembly (logger.py:168-187, :228-249) ----------
  private def handle(
      eventType: String,
      runId: String,
      parentRunId: Option[String],
      tags: Seq[String],
      metadata: Map[String, Any],
      data: ListMap[String, Any],
      raw: Map[String, Any]): Unit =
    if (eventTypes.contains(eventType)) {
      emit(eventType, runId, parentRunId, tags, metadata, data, raw, None)
    }

  private def emit(
      eventType: String,
      runId: String,
      parentRunId: Option[String],
      tags: Seq[String],
      metadata: Map[String, Any],
      data: ListMap[String, Any],
      raw: Map[String, Any],
      customIdOverride: Option[String]): Unit = {
    val nowUs = clock.nowMicros
    val parent = parentRunId.getOrElse("")
    val customId = customIdOverride.getOrElse(Tagging.extractCustomId(tags))
    // The standard payload, written in its key order straight into one
    // builder; only data and raw need the generic walk.
    val sb = new StringBuilder(512)
    sb.append("{\"event_type\":")
    Json.str(sb, eventType)
    sb.append(",\"timestamp\":\"")
    IsoMicros.appendTo(sb, nowUs)
    sb.append("\",\"execution\":{\"run_id\":")
    Json.str(sb, runId)
    sb.append(",\"parent_run_id\":")
    Json.str(sb, parent)
    sb.append(",\"custom_id\":")
    Json.str(sb, customId)
    sb.append(",\"tags\":")
    Json.any(sb, tags)
    sb.append(",\"metadata\":")
    Json.any(sb, metadata)
    sb.append("},\"data\":")
    Json.any(sb, data)
    sb.append(",\"raw\":")
    Json.any(sb, raw)
    sb.append('}')
    // floor division keeps the nanos non-negative before 1970
    val ts = new Timestamp(Math.floorDiv(nowUs, 1000000L) * 1000L)
    ts.setNanos(Math.floorMod(nowUs, 1000000L).toInt * 1000)
    sink.append(LogEntry(
      timestamp = ts,
      run_id = runId,
      parent_run_id = parent,
      custom_id = customId,
      event_type = eventType,
      logger_metadata = metadataJson,
      payload = sb.toString))
  }

  /** model name: serialized.kwargs.model_name (logger.py:259). */
  private def modelOf(serialized: Map[String, Any]): Any =
    serialized.get("kwargs") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].get("model_name").orNull
      case _ => null
    }

  /** Nested-message metadata lift (logger.py:196-215): first generation's
    * message metadata of the requested kind, if present.
    */
  private def extractGenMeta(response: Map[String, Any], kind: String): Any =
    response.get("generations") match {
      case Some(gens: Seq[_]) =>
        gens.headOption match {
          case Some(inner: Seq[_]) => inner.headOption match {
            case Some(g: Map[_, _]) =>
              g.asInstanceOf[Map[String, Any]].get("message") match {
                case Some(msg: Map[_, _]) =>
                  msg.asInstanceOf[Map[String, Any]].get(kind).orNull
                case _ => null
              }
            case _ => null
          }
          case _ => null
        }
      case _ => null
    }
}

/** `DateTimeFormatter.ISO_INSTANT`'s text for a microsecond epoch instant:
  * the second, then the 0, 3 or 6 fraction digits ISO_INSTANT prints for
  * a whole second, millisecond or microsecond, then `Z`. The formatter
  * runs only when the second changes; its text is kept in one slot shared
  * by every logger. The slot is read and written without a lock: each
  * value is an immutable pair, so a racing thread sees a whole pair, and
  * at worst formats its second again.
  */
private[ingest] object IsoMicros {

  private final class Second(val epochSecond: Long, val text: String)

  private var last: Second = second(0L)

  private def second(epochSecond: Long): Second = {
    val iso = DateTimeFormatter.ISO_INSTANT.format(
      Instant.ofEpochSecond(epochSecond))
    new Second(epochSecond, iso.substring(0, iso.length - 1)) // drop "Z"
  }

  def appendTo(sb: StringBuilder, micros: Long): Unit = {
    val epochSecond = Math.floorDiv(micros, 1000000L)
    val fraction = Math.floorMod(micros, 1000000L).toInt
    var s = last
    if (s.epochSecond != epochSecond) {
      s = second(epochSecond)
      last = s
    }
    sb.append(s.text)
    if (fraction % 1000 != 0) digits(sb, fraction, 100000)
    else if (fraction != 0) digits(sb, fraction / 1000, 100)
    sb.append('Z')
  }

  /** '.' then `v` zero-padded to the digits of `unit`'s magnitude. */
  private def digits(sb: StringBuilder, v: Int, unit: Int): Unit = {
    sb.append('.')
    var u = unit
    while (u > 0) {
      sb.append(('0' + v / u % 10).toChar)
      u /= 10
    }
  }
}
