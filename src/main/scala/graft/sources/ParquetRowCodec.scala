package graft.sources

import org.apache.parquet.example.data.Group
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, MessageTypeParser, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one parquet row codec of the layout stack, driven by the layout
  * schema: the message type a written file carries, the Catalyst
  * values a reader produces, and the types a layout footer maps to.
  * The payload types a layout can carry: long, int, double, float,
  * boolean, string, and arrays of double, float or long (Spark's
  * three-level LIST shape). */
private[sources] object ParquetRowCodec {

  /** Catalyst type of a footer field. */
  def catalystType(f: org.apache.parquet.schema.Type): DataType = f match {
    case p: PrimitiveType =>
      p.getPrimitiveTypeName match {
        case INT64 => LongType
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY => StringType
        case other => throw new IllegalArgumentException(
          s"unsupported cell-layout column type $other (${f.getName})")
      }
    case g: GroupType if g.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] =>
      // Spark 3-level list: group(LIST) { repeated group list { element } }
      val elem = g.getType(0).asGroupType().getType(0)
        .asPrimitiveType().getPrimitiveTypeName
      elem match {
        case DOUBLE => ArrayType(DoubleType, containsNull = true)
        case FLOAT => ArrayType(FloatType, containsNull = true)
        case INT64 => ArrayType(LongType, containsNull = true)
        case other => throw new IllegalArgumentException(
          s"unsupported cell-layout array element $other (${f.getName})")
      }
    case other => throw new IllegalArgumentException(
      s"unsupported cell-layout column ${other.getName}")
  }

  /** The message type for `fields`: a non-nullable field is
    * `required`, a nullable one `optional`. */
  def messageType(name: String, fields: Seq[StructField]): MessageType =
    MessageTypeParser.parseMessageType(
      fields.map(decl).mkString(s"message $name {\n", "\n", "\n}"))

  private def decl(f: StructField): String = {
    val rep = if (f.nullable) "optional" else "required"
    f.dataType match {
      case LongType => s"$rep int64 ${f.name};"
      case IntegerType => s"$rep int32 ${f.name};"
      case DoubleType => s"$rep double ${f.name};"
      case FloatType => s"$rep float ${f.name};"
      case BooleanType => s"$rep boolean ${f.name};"
      case StringType => s"$rep binary ${f.name} (UTF8);"
      case ArrayType(et, _) =>
        val e = et match {
          case DoubleType => "double"
          case FloatType => "float"
          case LongType => "int64"
          case other => throw new IllegalArgumentException(
            s"unsupported cell-layout array element $other (${f.name})")
        }
        s"$rep group ${f.name} (LIST) " +
          s"{ repeated group list { optional $e element; } }"
      case other => throw new IllegalArgumentException(
        s"unsupported cell-layout column type $other (${f.name})")
    }
  }

  /** Reader of field `name` (at `idx` of the file's message type) of a
    * row group as a Catalyst value of type `dt`; an absent value reads
    * as null. */
  def reader(name: String, idx: Int, dt: DataType): Group => Any = {
    val value: Group => Any = dt match {
      case LongType => _.getLong(idx, 0)
      case IntegerType => _.getInteger(idx, 0)
      case DoubleType => _.getDouble(idx, 0)
      case FloatType => _.getFloat(idx, 0)
      case BooleanType => _.getBoolean(idx, 0)
      case StringType => g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case ArrayType(et, _) => g =>
        val lg = g.getGroup(idx, 0)
        new GenericArrayData(Array.tabulate[Any](
          lg.getFieldRepetitionCount(0)) { i =>
          val eg = lg.getGroup(0, i)
          if (eg.getFieldRepetitionCount(0) == 0) null
          else et match {
            case DoubleType => eg.getDouble(0, 0)
            case FloatType => eg.getFloat(0, 0)
            case LongType => eg.getLong(0, 0)
            case other => throw new IllegalArgumentException(
              s"unsupported cell-layout array element type $other")
          }
        })
      case other => throw new IllegalArgumentException(
        s"unsupported cell-layout column type $other ($name)")
    }
    g => if (g.getFieldRepetitionCount(idx) == 0) null else value(g)
  }

  /** An Int or Long input column read as Long — integral values are
    * coerced to the layout's width on write. */
  def longAt(input: StructType, name: String): InternalRow => Long = {
    val i = input.fieldIndex(name)
    if (input(i).dataType == IntegerType) _.getInt(i).toLong
    else _.getLong(i)
  }

  /** Appends layout field `f` of an `input` row to a row group; a null
    * in a nullable field is left absent. */
  def appender(input: StructType,
      f: StructField): (Group, InternalRow) => Unit = {
    val i = input.fieldIndex(f.name)
    val name = f.name
    val put: (Group, InternalRow) => Unit = f.dataType match {
      case LongType =>
        val get = longAt(input, name)
        (g, r) => g.append(name, get(r))
      case IntegerType =>
        val get = longAt(input, name)
        (g, r) => g.append(name, get(r).toInt)
      case DoubleType => (g, r) => g.append(name, r.getDouble(i))
      case FloatType => (g, r) => g.append(name, r.getFloat(i))
      case BooleanType => (g, r) => g.append(name, r.getBoolean(i))
      case StringType => (g, r) =>
        g.append(name, Binary.fromConstantByteArray(r.getUTF8String(i).getBytes))
      case ArrayType(et, _) => (g, r) =>
        val arr = r.getArray(i)
        val lg = g.addGroup(name)
        var j = 0
        while (j < arr.numElements()) {
          val eg = lg.addGroup("list")
          if (!arr.isNullAt(j)) et match {
            case DoubleType => eg.append("element", arr.getDouble(j))
            case FloatType => eg.append("element", arr.getFloat(j))
            case LongType => eg.append("element", arr.getLong(j))
            case other => throw new IllegalArgumentException(
              s"unsupported cell-layout array element type $other")
          }
          j += 1
        }
      case other => throw new IllegalArgumentException(
        s"unsupported cell-layout column type $other ($name)")
    }
    if (f.nullable) ((g, r) => if (!r.isNullAt(i)) put(g, r)) else put
  }
}
