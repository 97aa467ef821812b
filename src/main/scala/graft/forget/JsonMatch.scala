package graft.forget

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.find.Finder.GroupMatches
import org.apache.spark.sql.types._
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
  * [[Evaluator]] runs inside the rewrite task ([[DistributedRewrite]])
  * on the line the shared JSON-lines loop parsed once — the reference
  * pays the same parse per line. [[resolve]] is also the PII scrub's
  * path lookup ([[graft.llm.PiiForget]]).
  */
object JsonMatch {

  /** A match value with the declared column type applied (planning cast,
    * generate_queries.py:495-513): int-family → Long, float-family →
    * Double, decimal → BigDecimal, else String. */
  sealed trait TypedVal extends Serializable
  final case class LongVal(v: Long) extends TypedVal
  final case class DoubleVal(v: Double) extends TypedVal
  final case class DecimalVal(v: BigDecimal) extends TypedVal
  final case class StringVal(v: String) extends TypedVal

  /** @throws graft.model.MatchIdCastingError on unparseable values —
    *         unified with the planner contract
    *         (generate_queries.py:495-519). */
  def cast(raw: String, t: DataType): TypedVal =
    try t match {
      case ByteType | ShortType | IntegerType | LongType => LongVal(raw.toLong)
      case FloatType | DoubleType                        => DoubleVal(raw.toDouble)
      case d: DecimalType =>
        DecimalVal(BigDecimal(raw).setScale(d.scale, BigDecimal.RoundingMode.HALF_UP))
      case _                                             => StringVal(raw)
    } catch {
      case e: NumberFormatException =>
        throw new graft.model.MatchIdCastingError(
          s"Match id '$raw' cannot be cast to $t: ${e.getMessage}")
    }

  /** One group's data, fully serializable for executor-side evaluation. */
  final case class GroupSpec(paths: Seq[Seq[String]],
                             tuples: Set[Seq[TypedVal]]) extends Serializable

  def spec(gm: GroupMatches): GroupSpec = GroupSpec(
    gm.group.columns.map(_.split('.').toSeq),
    gm.rows.map { case (_, vals) =>
      vals.zip(gm.group.types).map { case (v, t) => cast(v, t) }
    }.toSet)

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

  /** Python-`==`-style comparison between a JSON leaf and a typed match
    * value: numerics compare numerically across types; strings compare as
    * strings; anything else is unequal. */
  def valueEquals(node: JsonNode, m: TypedVal): Boolean = (m match {
    case LongVal(v)    => node.isNumber && decimalOf(node).compare(BigDecimal(v)) == 0
    case DoubleVal(v)  => node.isNumber && decimalOf(node).compare(BigDecimal(v)) == 0
    case DecimalVal(v) => node.isNumber && decimalOf(node).compare(v) == 0
    case StringVal(v)  => node.isTextual && node.asText() == v
  })

  private def decimalOf(n: JsonNode): BigDecimal = BigDecimal(n.decimalValue())

  /** Match evaluation over a parsed line; the rewrite loop parses each
    * line once and hands the node here. */
  final class Evaluator(specs: Seq[GroupSpec]) extends Serializable {
    def matches(node: JsonNode): Boolean =
      specs.exists { g =>
        val values = g.paths.map(getValue(node, _))
        values.forall(_.isDefined) && g.tuples.exists(t =>
          t.zip(values).forall { case (m, Some(v)) => valueEquals(v, m)
                                 case _            => false })
      }
  }
}
