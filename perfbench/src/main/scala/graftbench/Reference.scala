package graftbench

import scala.collection.mutable

import graft.operators.PoiStableHash
import graft.operators.PoiStableHash.{EBigDecimal, EString, PoiEvent, RemoveEntity, SetEntity}
import graft.sources.GraphqlSchema.{EntityDesc, FieldType}
import graft.sources.ProtoEntityChanges.PbValue

/** One CSV row the loader should write: a version of a mutable entity
  * (`end` None while open) or an immutable entity's creation row. */
final case class RefRow(id: String, start: Long, end: Option[Long],
                        fields: Map[String, Option[PbValue]])

/** Sequential reference for the graph-load chain, written from the
  * reference loader's rules and independent of the Spark operators:
  *   - versions follow the close-on-UPDATE/DELETE walk of an in-memory
  *     map keyed by id (csvprocessor/processor.go:237-307);
  *   - cells follow the graph-node CSV rendering rules
  *     (csvprocessor/writer.go:188-311).
  * Rows are compared by an order-free digest. */
object Reference {

  /** Versions per id in block order: every change closes the open
    * version; CREATE and UPDATE open a new one, DELETE opens none. */
  def versions(changes: Seq[GenChange]): Seq[RefRow] = {
    val out = mutable.ArrayBuffer.empty[RefRow]
    changes.groupBy(_.id).foreach { case (id, cs) =>
      var open: Option[RefRow] = None
      cs.sortBy(_.block).foreach { c =>
        open.foreach(o => out += o.copy(end = Some(c.block)))
        open = if (c.op == "DELETE") None else Some(RefRow(id, c.block, None, c.fields.toMap))
      }
      open.foreach(out += _)
    }
    out.toSeq
  }

  /** Immutable entities: one row per created entity, no range. */
  def immutableRows(changes: Seq[GenChange]): Seq[RefRow] =
    changes.filter(_.op != "DELETE").map(c => RefRow(c.id, c.block, None, c.fields.toMap))

  def rows(desc: EntityDesc, changes: Seq[GenChange]): Seq[RefRow] =
    if (desc.immutable) immutableRows(changes) else versions(changes)

  private def stripNul(s: String) = s.replace("\u0000", "")

  private def bytesHex(b64: String): String =
    java.util.Base64.getDecoder.decode(b64).map(x => f"${x & 0xff}%02x").mkString

  /** The CSV cells of one row, in header order (writer.go:142-311). */
  def renderCells(desc: EntityDesc, r: RefRow): Seq[String] = {
    val range =
      if (desc.immutable) r.start.toString
      else s"[${r.start},${r.end.map(_.toString).getOrElse("")})"
    val fields = desc.orderedFields.filter(_.name != "id").map { f =>
      r.fields.get(f.name).flatten match {
        case None =>
          if (f.nullable) "NULL"
          else f.fieldType match {
            case FieldType.Int32 | FieldType.BigInt | FieldType.BigDecimal => "0"
            case FieldType.Bool => "false"
            case _ => ""
          }
        case Some(v) if f.array =>
          v.array.map(e => stripNul(e.value).replace("\\", "\\\\").replace(",", "\\,"))
            .mkString("{", ",", "}")
        case Some(v) => f.fieldType match {
          case FieldType.Bytes => "\\x" + bytesHex(v.value)
          case FieldType.Str | FieldType.Id => stripNul(v.value)
          case _ => v.value
        }
      }
    }
    (stripNul(r.id) +: range +: fields) :+ r.start.toString
  }

  /** The typed values the CSV reader should parse back, canonicalised
    * like [[Digest.cell]] renders Spark values. */
  def typedCells(desc: EntityDesc, r: RefRow): Seq[String] = {
    val range =
      if (desc.immutable) Seq(r.start.toString)
      else Seq(r.start.toString, r.end.map(_.toString).getOrElse(Digest.Null))
    val fields = desc.orderedFields.filter(_.name != "id").map { f =>
      r.fields.get(f.name).flatten match {
        case None => Digest.Null
        case Some(v) if f.array => v.array.map(e => stripNul(e.value)).mkString("[", Digest.Sep2, "]")
        case Some(v) => f.fieldType match {
          case FieldType.Bytes => bytesHex(v.value)
          case FieldType.Str | FieldType.Id => stripNul(v.value)
          case _ => v.value
        }
      }
    }
    (stripNul(r.id) +: range) ++ fields
  }

  /** POI events per block: one SetEntity/RemoveEntity per change in (id,
    * op) order, entity type `user_state`, data {last_op, value}. */
  def poiBlocks(changes: Seq[GenChange], valueField: String): Seq[(Long, Seq[PoiEvent])] =
    changes.groupBy(_.block).toSeq.map { case (b, cs) =>
      b -> cs.sortBy(c => (c.id, c.op)).map { c =>
        if (c.op == "DELETE") RemoveEntity("user_state", c.id): PoiEvent
        else SetEntity("user_state", c.id, Seq(
          "last_op" -> EString(c.op),
          "value" -> EBigDecimal(c.fields.toMap.get(valueField).flatten
            .map(v => new java.math.BigDecimal(v.value).setScale(2).toPlainString)
            .getOrElse("0")))): PoiEvent
      }
    }

  def poiChain(changes: Seq[GenChange], valueField: String): Map[Long, String] =
    PoiStableHash.chainSequential(poiBlocks(changes, valueField)).toMap
}

/** Order-free multiset digest of rows of cells: row count, and the sum
  * and xor of a 64-bit hash of each row. */
final case class Digest(rows: Long, sum: Long, xor: Long)

object Digest {
  val Null = "\u0002null"
  val Sep = "\u0001"
  val Sep2 = "\u0003"

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  def of(rows: Iterator[Seq[String]]): Digest = {
    var n = 0L; var s = 0L; var x = 0L
    rows.foreach { r => val h = hash64(r.mkString(Sep)); n += 1; s += h; x ^= h }
    Digest(n, s, x)
  }

  /** Digest comparison; on a mismatch, up to three rows from each side
    * that the other lacks. */
  def compare(what: String, got: Seq[Seq[String]], want: Seq[Seq[String]]): Seq[String] = {
    val (g, w) = (of(got.iterator), of(want.iterator))
    if (g == w) Nil
    else {
      val show = (r: Seq[String]) => r.mkString("|").replace("\u0000", "\\0")
      val (gs, ws) = (got.map(show), want.map(show))
      val extra = gs.diff(ws).take(3)
      val lost = ws.diff(gs).take(3)
      Seq(s"$what: got ${g.rows} rows, want ${w.rows}; unexpected ${extra.mkString(" ; ")}; missing ${lost.mkString(" ; ")}")
    }
  }

  /** Canonical text of one Spark value read back from the CSV store. */
  def cell(v: Any): String = v match {
    case null => Null
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", Sep2, "]")
    case other => other.toString
  }
}
