package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Thin JSON layer over Jackson (ships with Spark). Provider decoders need
  * the same defensive per-field coercions the reference applies with yyjson
  * (value may arrive as int/real/string: reference fao_functions.cpp:180-193,
  * unhcr_functions.cpp:128-142; year as int or string: who_functions.cpp:156-165).
  * Malformed JSON yields None → zero rows, never an exception in the scan.
  */
object Json {
  private val mapper = new ObjectMapper()

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character escaped. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  def parse(s: String): Option[JsonNode] =
    // readTree("") yields a MissingNode, not an error — treat as no data
    try Option(mapper.readTree(s)).filterNot(_.isMissingNode)
    catch { case _: Exception => None }

  /** Children of an array node, empty for anything else. */
  def elements(n: JsonNode): Iterator[JsonNode] =
    if (n != null && n.isArray) {
      val it = n.elements()
      new Iterator[JsonNode] { def hasNext = it.hasNext; def next() = it.next() }
    } else Iterator.empty

  def field(n: JsonNode, name: String): Option[JsonNode] =
    Option(n).flatMap(x => Option(x.get(name))).filterNot(_.isNull)

  def str(n: JsonNode, name: String): Option[String] =
    field(n, name).collect { case v if v.isTextual => v.asText() case v if v.isNumber => v.asText() }

  /** Non-empty string or None — the reference maps "" to SQL NULL for
    * source_note/sex/region/unit (wb_indicators.cpp:198-202 et al.). */
  def strNonEmpty(n: JsonNode, name: String): Option[String] =
    str(n, name).filter(_.nonEmpty)

  /** int that may arrive as number or numeric string. */
  def intFlexible(n: JsonNode, name: String): Option[Int] =
    field(n, name).flatMap { v =>
      if (v.isNumber) Some(v.asInt())
      else if (v.isTextual) v.asText().trim.takeWhile(c => c.isDigit || c == '-') match {
        case s if s.nonEmpty && s != "-" => try Some(s.toInt) catch { case _: Exception => None }
        case _ => None
      }
      else None
    }

  /** double that may arrive as real, int, or numeric string. */
  def doubleFlexible(n: JsonNode, name: String): Option[Double] =
    field(n, name).flatMap { v =>
      if (v.isNumber) Some(v.asDouble())
      else if (v.isTextual) {
        val s = v.asText().trim.replace(",", "")
        try if (s.isEmpty) None else Some(s.toDouble) catch { case _: Exception => None }
      }
      else None
    }

  /** long with the same coercion ladder (UNHCR values: BIGINT). Integral
    * values parse as long directly — routing through double would lose
    * precision above 2^53. */
  def longFlexible(n: JsonNode, name: String): Option[Long] =
    field(n, name).flatMap { v =>
      if (v.isIntegralNumber) Some(v.asLong())
      else if (v.isTextual) {
        val s = v.asText().trim.replace(",", "")
        (try Some(s.toLong) catch { case _: Exception => None })
          .orElse(doubleFlexible(n, name).map(_.toLong))
      } else doubleFlexible(n, name).map(_.toLong)
    }
}
