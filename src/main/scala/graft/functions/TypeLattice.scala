package graft.functions

import graft.functions.JValue._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's 4-type schema-on-read lattice
  * (/root/reference/pkg/util/types.go:12-89): per column, count the
  * JSON types seen across a batch, then resolve with the priority
  * string > undefined(→string) > float > int > bool, defaulting to
  * string (all-null columns land there). A number is an int iff its
  * raw token parses as a 64-bit integer; otherwise float.
  */
object TypeLattice {

  final val String = "string"
  final val Int = "int"
  final val Float = "float"
  final val Bool = "bool"

  /** JSON-type tag of one value: string|null|bool|int|float. Arrays /
    * objects land in "undefined" (reference types.go:51-52) — they only
    * occur when the ingest path skipped flattening. */
  def tagOf(v: JValue): String = v match {
    case JStr(_)   => "string"
    case JNull     => "null"
    case JBool(_)  => "bool"
    case JNum(raw) =>
      if (scala.util.Try(raw.toLong).isSuccess) "int" else "float"
    case _         => "undefined"
  }

  /** Resolve a set of observed tags to a column type (types.go:65-84). */
  def resolve(tags: Iterable[String]): String = {
    val s = tags.toSet
    if (s.contains("string")) String
    else if (s.contains("undefined")) String
    else if (s.contains("float")) Float
    else if (s.contains("int")) Int
    else if (s.contains("bool")) Bool
    else String // only nulls (or empty)
  }

  /** Driver-side single-pass inference over NDJSON lines (small batch
    * files — the rotation thresholds bound their size). */
  def inferTypes(lines: IterableOnce[String]): Map[String, String] = {
    val seen = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
    lines.iterator.filter(_.nonEmpty).foreach { line =>
      JValue.parse(line) match {
        case JObj(fields) =>
          fields.foreach { case (k, v) =>
            seen.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += tagOf(v)
          }
        case _ => // non-object lines carry no columns
      }
    }
    seen.iterator.map { case (k, tags) => k -> resolve(tags) }.toMap
  }

  /** Distributed inference for large inputs: one pass, map-side partial
    * aggregation of the per-key tag set (shuffles |keys|·|tags| rows,
    * not |input|), tiny resolve on the driver. */
  def inferTypesDistributed(spark: SparkSession, lines: Dataset[String]): Map[String, String] = {
    import spark.implicits._
    lines
      .filter((l: String) => l != null && l.nonEmpty)
      .flatMap { line =>
        JValue.parse(line) match {
          case JObj(fields) => fields.map { case (k, v) => (k, tagOf(v)) }
          case _            => Nil
        }
      }
      .toDF("k", "t")
      .groupBy("k").agg(collect_set("t").as("tags"))
      .collect()
      .map(r => r.getString(0) -> resolve(r.getSeq[String](1)))
      .toMap
  }

  /** Physical Spark type per lattice type (SURVEY §1.2 mapping). */
  def toSparkType(t: String): DataType = t match {
    case Int   => LongType
    case Float => DoubleType
    case Bool  => BooleanType
    case _     => StringType
  }

  /** Fold any Spark type back onto the lattice (copy/CSV ingest paths
    * must stay re-ingestable, like the reference's re-inference). */
  def fromSparkType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => Int
    case FloatType | DoubleType | _: DecimalType       => Float
    case BooleanType                                   => Bool
    case _                                             => String
  }
}
