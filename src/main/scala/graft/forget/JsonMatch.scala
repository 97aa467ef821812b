package graft.forget

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.forget.DistributedRewrite.{PDecimal, PDouble, PFloat, PLong, PString, PVal, TaskGroupSpec}
import scala.jdk.CollectionConverters._

/** Raw-JSON match evaluation for the JSON-lines Forget path.
  *
  * The reference evaluates matches on PARSED lines while writing the RAW
  * line through untouched (json_handler.py:41-74), with:
  *   - case-insensitive key lookup at every nesting level
  *     (json_handler.py:11-24);
  *   - missing key ⇒ no match (get_value → None, json_handler.py:26-38);
  *   - composite: a tuple built from only the PRESENT columns, compared
  *     against the full match tuple — equivalent to "all columns present
  *     and equal" (json_handler.py:58-64; SURVEY.md §7.4 risk 4);
  *   - native-typed comparison (int match 1234 equals JSON number 1234 but
  *     NOT JSON string "1234"; numeric cross-type compares numerically,
  *     mirroring Python `==` — generate_queries.py:102-109).
  *
  * The match values are the ones [[graft.find.Finder.typedGroups]] cast
  * for the whole job, so Find and Forget accept the same queue. The
  * [[matcher]] runs inside the rewrite task ([[DistributedRewrite]]) on
  * the line the shared JSON-lines loop parsed once — the reference pays
  * the same parse per line. [[resolve]] is also the PII scrub's path
  * lookup ([[graft.llm.PiiForget]]).
  */
object JsonMatch {

  /** Case-insensitive dot-path resolution over a parsed JSON node: the
    * object holding the path's last segment and that segment's concrete
    * key (the first key equal to it ignoring case, so a replacement
    * lands on the original field name). None when any segment is
    * missing or a non-object is traversed. */
  def resolve(node: JsonNode, path: Seq[String]): Option[(ObjectNode, String)] =
    (node, path) match {
      case (o: ObjectNode, seg +: rest) =>
        o.fieldNames().asScala.find(_.equalsIgnoreCase(seg)).flatMap(key =>
          if (rest.isEmpty) Some((o, key)) else resolve(o.get(key), rest))
      case _ => None
    }

  /** The non-null value at a dot path ([[resolve]] semantics). */
  def getValue(node: JsonNode, path: Seq[String]): Option[JsonNode] =
    resolve(node, path).map { case (o, k) => o.get(k) }
      .filter(n => !n.isNull && !n.isMissingNode)

  /** A JSON leaf as a hash key: a number as its value (a BigDecimal with
    * trailing zeros stripped, so 1234, 1234.0 and 1.234e3 are one key);
    * a string as itself; null — never matching — for anything else,
    * including a non-finite double. Numbers and strings never share a
    * key, which is the native-typed contract above. */
  def nodeKey(n: JsonNode): AnyRef =
    if (n.isTextual) n.asText()
    else if (!n.isNumber) null
    else if ((n.isDouble || n.isFloat) && !java.lang.Double.isFinite(n.doubleValue))
      null
    else n.decimalValue().stripTrailingZeros

  /** A match value in [[nodeKey]]'s key space, compared the Python-`==`
    * way: numerics by value across types — a float or double by its
    * shortest decimal rendering, which is the literal the queue held —
    * and strings as strings. NaN and infinities are no JSON number, so
    * they never match. */
  def valueKey(m: PVal): AnyRef = m match {
    case PLong(v) => java.math.BigDecimal.valueOf(v).stripTrailingZeros
    case PFloat(v) =>
      if (v.isNaN || v.isInfinite) null
      else new java.math.BigDecimal(java.lang.Float.toString(v)).stripTrailingZeros
    case PDouble(v) =>
      if (v.isNaN || v.isInfinite) null
      else new java.math.BigDecimal(java.lang.Double.toString(v)).stripTrailingZeros
    case PDecimal(d) => d.stripTrailingZeros
    case PString(s) => s
  }

  /** The line match: per group, one hash set of [[valueKey]] tuples,
    * probed once per line with the [[nodeKey]]s at the group's paths. */
  def matcher(specs: Seq[TaskGroupSpec]): JsonNode => Boolean = {
    val groups = specs
      .map(s => (s.paths, DistributedRewrite.keySet(s.tuples, (m, _) => valueKey(m))))
      .filterNot(_._2.isEmpty)
    node => groups.exists { case (paths, keys) =>
      val parts = paths.map(p => getValue(node, p).map(nodeKey).orNull)
      !parts.contains(null) &&
        keys.contains(if (parts.size == 1) parts.head
                      else java.util.Arrays.asList(parts: _*))
    }
  }
}
