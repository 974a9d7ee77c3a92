package perfbench

import graft.ingest.{ParquetLogger, Tagging}

/** What the benchmark emitted for one event: enough to check the landed
  * row and to recompute the read-back answers.
  */
final case class Emitted(runId: String, parentRunId: String,
    eventType: String, customId: String, totalTokens: Long)

/** Seeded LangChain-shaped callback trees: chain_start → llm_start →
  * llm_end with token usage (about 5% llm_error instead) → chain_end. The
  * llm run's parent is the chain run. `custom_id` comes from a skewed pool
  * of 64 ids; prompts are short (~200 B) or, one time in five, long
  * (~4 KB).
  */
final class CallbackTrees(seed: Long, prefix: String) {
  private val rnd = new java.util.Random(seed)
  private var n = 0L

  private def text(bytes: Int): String = {
    val sb = new StringBuilder(bytes + 16)
    while (sb.length < bytes) {
      sb.append(CallbackTrees.Words(rnd.nextInt(CallbackTrees.Words.length)))
      sb.append(' ')
    }
    sb.toString
  }

  /** Raises the next tree's callbacks through `call`, which wraps each
    * callback (timing, error capture) and gets what the event should land.
    * Inputs are built before the callbacks, so `call` times only them.
    */
  def next(logger: ParquetLogger)(call: (Emitted, () => Unit) => Unit): Unit = {
    n += 1
    val root = s"$prefix-$n-chain"
    val llm = s"$prefix-$n-llm"
    val custom = f"cust-${(math.pow(rnd.nextDouble(), 3) * 64).toInt}%02d"
    val tags = Tagging.withTags(custom)("tags")
    val model = CallbackTrees.Models(rnd.nextInt(CallbackTrees.Models.length))
    val prompt = text(if (rnd.nextInt(5) == 0) 4096 else 200)
    val promptTokens = prompt.length / 4L
    val completionTokens = 20L + rnd.nextInt(380)
    val failed = rnd.nextInt(20) == 0
    val answer = text(120)
    val error = if (failed) new RuntimeException("rate limited") else null

    call(Emitted(root, "", "chain_start", custom, 0), () =>
      logger.onChainStart(Map("name" -> "qa_chain"),
        Map("question" -> prompt.take(64)), root, tags = tags))
    call(Emitted(llm, root, "llm_start", custom, 0), () =>
      logger.onLlmStart(
        Map("_type" -> "openai-chat", "kwargs" -> Map("model_name" -> model)),
        Seq(prompt), llm, Some(root), tags = tags))
    if (failed)
      call(Emitted(llm, root, "llm_error", custom, 0), () =>
        logger.onLlmError(error, llm, Some(root), tags))
    else {
      val total = promptTokens + completionTokens
      call(Emitted(llm, root, "llm_end", custom, total), () =>
        logger.onLlmEnd(Map(
          "generations" -> Seq(Seq(Map("text" -> answer,
            "message" -> Map("usage_metadata" -> Map(
              "input_tokens" -> promptTokens,
              "output_tokens" -> completionTokens,
              "total_tokens" -> total))))),
          "llm_output" -> Map(
            "model_name" -> model,
            "token_usage" -> Map("prompt_tokens" -> promptTokens,
              "completion_tokens" -> completionTokens,
              "total_tokens" -> total))),
          llm, Some(root), tags))
    }
    call(Emitted(root, "", "chain_end", custom, 0), () =>
      logger.onChainEnd(Map("answer" -> "ok"), root, tags = tags))
  }
}

object CallbackTrees {
  val Words: Array[String] = ("the a spark log event token model prompt " +
    "chain tool agent retrieve answer question stream batch parquet table " +
    "query join window vector embed rank score filter dedup shard").split(' ')
  val Models: Array[String] = Array("gpt-4o", "gpt-4o-mini", "qwen-2.5", "llama-3")
}
