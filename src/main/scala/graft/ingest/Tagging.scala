package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.ExtractCustomId

/** Tag conventions (reference tagging.py): custom ids travel inside the
  * `tags` array as `logger_custom_id:<id>` plus an optional
  * `custom_id_description:<desc>` companion tag.
  */
object Tagging {

  val CustomIdPrefix: String = ExtractCustomId.Prefix
  val DescriptionPrefix: String = "custom_id_description:"

  /** Config-map builder (tagging.py:7-82): merge existing tags with the
    * custom-id tags. `extend=true` appends to existing tags; `false`
    * replaces them.
    */
  def withTags(
      customId: String,
      description: Option[String] = None,
      existingTags: Seq[String] = Nil,
      additionalTags: Seq[String] = Nil,
      extend: Boolean = true): Map[String, Seq[String]] = {
    val idTags =
      Seq(CustomIdPrefix + customId) ++
        description.map(DescriptionPrefix + _).toSeq
    val base = if (extend) existingTags else Nil
    Map("tags" -> (base ++ additionalTags ++ idTags))
  }

  /** Driver/executor-side scalar version (tagging.py:85-98). Null tags
    * are skipped, as in the columnar [[ExtractCustomId]].
    */
  def extractCustomId(tags: Seq[String]): String =
    tags.collectFirst {
      case t if t != null && t.startsWith(CustomIdPrefix) =>
        t.substring(CustomIdPrefix.length)
    }.getOrElse("")

  /** Columnar version backed by the native Catalyst expression. */
  def extractCustomIdCol(tags: Column): Column = ExtractCustomId(tags)

  /** Columnar tag construction: append `logger_custom_id:<id>` to a tags
    * array column (the columnar analog of `withTags`).
    */
  def withCustomIdTag(tags: Column, id: Column): Column =
    concat(tags, array(concat(lit(CustomIdPrefix), id.cast("string"))))
}
