package graft.api

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.analysis.GetColumnByOrdinal
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, Codec, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{IntegerType, ObjectType}

import scala.reflect.ClassTag

/** Encoders for the two element types Spark's reflection-derived encoders
  * reject — `Char` and `scala.Enumeration` values — closing the gap the
  * reference itself documents as a Spark limitation
  * (emma-language api/DataBagSpec.scala:426: "FIXME: Spark does not support
  * `Char` type"; the CSVRecord `Fifth` char field is commented out there).
  *
  * Built on Spark 4's `TransformingEncoder`: a serializable [[Codec]] maps
  * the unsupported external type to a storable one (Char → Int code unit,
  * Enumeration value → its name String) before serialization and back after
  * deserialization, so Catalyst sees a plain INT / STRING column — fully
  * codegen'd, sortable, joinable, pushdown-eligible. No Kryo blobs: the
  * storage representation stays a queryable native column at 100 TB.
  *
  * Scope: top-level element encoders (`DataBag[Char]`, `Dataset[MyEnum.Value]`)
  * and explicit composition via [[tuple]] (`Encoders.tuple` fails on `Char`). Reflection-derived
  * case-class encoders still cannot see these (Spark derives those from
  * TypeTags before implicit search) — use a tuple or map the field to
  * Int/String at the boundary.
  */
/** Static conversion seam for the Char encoder's serializer/deserializer
  * expressions (codegen calls the static forwarders; interpreted mode boxes
  * consistently — `Integer` in, `Character` out). */
object CharCodecOps {
  def toCode(c: java.lang.Character): Int = c.charValue.toInt
  def fromCode(i: Int): java.lang.Character = java.lang.Character.valueOf(i.toChar)
}

object encoders extends Serializable {

  private final class CharCodec extends Codec[Char, Int] {
    override def encode(c: Char): Int = c.toInt
    override def decode(i: Int): Char = i.toChar
  }

  /** `Encoder[Char]`, stored as an INT column (the UTF-16 code unit).
    *
    * The class tag stays the primitive `Char` so `collect()` materializes a
    * real `Array[Char]`, but the serializer/deserializer expressions are
    * hand-built against `java.lang.Character` / `int`: letting Spark derive
    * them from a primitive-`char` ObjectType crashes Janino (empty type
    * descriptor) inside whole-stage codegen of any typed `map`. */
  implicit val charEncoder: Encoder[Char] = {
    val agnostic = AgnosticEncoders.TransformingEncoder[Char, Int](
      implicitly[ClassTag[Char]],
      AgnosticEncoders.PrimitiveIntEncoder,
      () => new CharCodec)
    val helper = classOf[CharCodecOps.type]
    val ser = StaticInvoke(helper, IntegerType, "toCode",
      BoundReference(0, ObjectType(classOf[java.lang.Character]), nullable = false) :: Nil,
      propagateNull = false, returnNullable = false)
    val deser = StaticInvoke(helper, ObjectType(classOf[java.lang.Character]), "fromCode",
      GetColumnByOrdinal(0, IntegerType) :: Nil,
      propagateNull = false, returnNullable = false)
    ExpressionEncoder(agnostic, ser, deser)
  }

  private final class CharBoxedCodec extends Codec[Char, java.lang.Integer] {
    override def encode(c: Char): java.lang.Integer = Int.box(c.toInt)
    override def decode(i: java.lang.Integer): Char = i.intValue.toChar
  }

  private val boxedCharTag = ClassTag(classOf[java.lang.Character]).asInstanceOf[ClassTag[Char]]

  /** `Encoder[Option[Char]]`, stored as a nullable INT column. */
  implicit val charOptionEncoder: Encoder[Option[Char]] =
    ExpressionEncoder(AgnosticEncoders.OptionEncoder(
      AgnosticEncoders.TransformingEncoder[Char, java.lang.Integer](
        boxedCharTag, AgnosticEncoders.BoxedIntEncoder, () => new CharBoxedCodec)))

  private final class EnumCodec[E <: Enumeration](e: E)
      extends Codec[E#Value, String] {
    override def encode(v: E#Value): String = v.toString
    override def decode(s: String): E#Value = e.withName(s)
  }

  /** Encoder for values of a specific `Enumeration` object, stored as the
    * value's name STRING (stable under id renumbering, readable in parquet).
    * Usage: `implicit val enc = encoders.enumeration(Color)`.
    */
  def enumeration(e: Enumeration): Encoder[e.Value] =
    ExpressionEncoder(AgnosticEncoders.TransformingEncoder(
      ClassTag(classOf[Enumeration#Value]).asInstanceOf[ClassTag[e.Value]],
      AgnosticEncoders.StringEncoder,
      () => new EnumCodec(e).asInstanceOf[Codec[e.Value, String]]))

  /** [[charEncoder]] as a tuple field, which Spark rebuilds from the agnostic
    * encoder: the boxed class tag, as the primitive one fails to compile. */
  private val charField: Encoder[Char] = ExpressionEncoder(AgnosticEncoders
    .TransformingEncoder[Char, Int](boxedCharTag, AgnosticEncoders.PrimitiveIntEncoder, () => new CharCodec))
  private def field[A](e: Encoder[A]): Encoder[A] =
    (if (e eq charEncoder) charField else e).asInstanceOf[Encoder[A]]

  /** Explicit tuple composition for encoders from this object (Spark's
    * implicit product derivation is TypeTag-based and cannot pick these up).
    */
  def tuple[A, B](implicit ea: Encoder[A], eb: Encoder[B]): Encoder[(A, B)] =
    Encoders.tuple(field(ea), field(eb))

  def tuple[A, B, C](implicit
      ea: Encoder[A], eb: Encoder[B], ec: Encoder[C]): Encoder[(A, B, C)] =
    Encoders.tuple(field(ea), field(eb), field(ec))
}
