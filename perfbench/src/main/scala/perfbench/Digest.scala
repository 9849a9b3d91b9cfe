package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{FixedSizeListVector, LargeListVector, ListVector, StructVector}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowReader, ArrowStreamReader}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import scala.jdk.CollectionConverters._

/** An order-insensitive, float-tolerant fingerprint of a result table.
  * `columns` are `name:CLASS` sorted by name, where CLASS normalises widths
  * the way `scripts/local_check.py` does (every integer width is INT, FLOAT
  * and DOUBLE are FLOAT, DECIMAL keeps precision and scale). `sum` adds one
  * 64-bit hash per row, so row order does not matter. */
final case class Digest(columns: Seq[String], rows: Long, sum: Long) {
  def encode: String = s"${columns.mkString(",")}\t$rows\t${java.lang.Long.toHexString(sum)}"
}

object Digest {

  def decode(s: String): Digest = {
    val Array(cols, rows, sum) = s.split("\t", -1)
    Digest(if (cols.isEmpty) Nil else cols.split(",").toSeq, rows.toLong,
      java.lang.Long.parseUnsignedLong(sum, 16))
  }

  /** An Arrow result as delivered: one IPC file, or a sequence of IPC
    * streams (the schema message and the fetched batches). */
  sealed trait Arrow
  final case class IpcFile(bytes: Array[Byte]) extends Arrow
  final case class IpcStreams(chunks: Seq[Array[Byte]]) extends Arrow

  private def readers(a: Arrow, alloc: RootAllocator): Iterator[ArrowReader] = a match {
    case IpcFile(b) =>
      Iterator(new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(b), alloc))
    case IpcStreams(cs) =>
      cs.iterator.filter(_.nonEmpty).map(c =>
        new ArrowStreamReader(new java.io.ByteArrayInputStream(c), alloc))
  }

  /** Visit every record batch of `a` (the schema root is reused per batch). */
  def foreachBatch(a: Arrow)(f: VectorSchemaRoot => Unit): Option[Seq[Field]] = {
    val alloc = new RootAllocator(Long.MaxValue)
    var fields: Option[Seq[Field]] = None
    try readers(a, alloc).foreach { r =>
      try {
        val root = r.getVectorSchemaRoot
        if (fields.isEmpty) fields = Some(root.getSchema.getFields.asScala.toSeq)
        while (r.loadNextBatch()) f(root)
      } finally r.close()
    } finally alloc.close()
    fields
  }

  /** Type class of a column, widths normalised. */
  def cls(f: Field): String = f.getType match {
    case _: ArrowType.Int => "INT"
    case _: ArrowType.FloatingPoint => "FLOAT"
    case d: ArrowType.Decimal =>
      if (d.getScale == 0) "INT" else s"DEC(${d.getPrecision};${d.getScale})"
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => "STR"
    case _: ArrowType.Bool => "BOOL"
    case _: ArrowType.Timestamp => "TS"
    case _: ArrowType.Date => "DATE"
    case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList =>
      s"LIST<${cls(f.getChildren.get(0))}>"
    case _: ArrowType.Map => "MAP"
    case _: ArrowType.Struct =>
      f.getChildren.asScala.map(c => s"${c.getName}:${cls(c)}").sorted
        .mkString("STRUCT<", ";", ">")
    case _: ArrowType.Binary | _: ArrowType.LargeBinary => "BIN"
    case other => other.getTypeID.toString
  }

  /** Floats compare to 8 significant digits and at most 6 decimals. */
  def normFloat(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else if (math.abs(d) < 5e-7) "0"
    else {
      val exp = math.floor(math.log10(math.abs(d))).toInt
      var decimals = math.min(6, 7 - exp)
      var m =
        if (decimals >= 0) math.rint(d * math.pow(10, decimals)).toLong
        else math.rint(d / math.pow(10, -decimals)).toLong
      if (m == 0) "0"
      else {
        while (m % 10 == 0) { m /= 10; decimals -= 1 }
        s"${m}e${-decimals}"
      }
    }

  private def micros(v: TimeStampVector, i: Int): Long = {
    val raw = v.get(i)
    v.getField.getType.asInstanceOf[ArrowType.Timestamp].getUnit match {
      case org.apache.arrow.vector.types.TimeUnit.SECOND => raw * 1000000L
      case org.apache.arrow.vector.types.TimeUnit.MILLISECOND => raw * 1000L
      case org.apache.arrow.vector.types.TimeUnit.MICROSECOND => raw
      case _ => Math.floorDiv(raw, 1000L)
    }
  }

  /** One cell: a Double for floating columns (kept for the tolerant
    * comparison), a canonical String otherwise, null for NULL. */
  def cell(v: ValueVector, i: Int): Any =
    if (v.isNull(i)) null
    else v match {
      case x: Float4Vector => x.get(i).toDouble
      case x: Float8Vector => x.get(i)
      case x: DecimalVector =>
        val d = x.getObject(i)
        if (d.scale <= 0) d.toBigInteger.toString else d.doubleValue
      case x: Decimal256Vector =>
        val d = x.getObject(i)
        if (d.scale <= 0) d.toBigInteger.toString else d.doubleValue
      case x: BaseIntVector => x.getValueAsLong(i).toString
      case x: BitVector => (x.get(i) == 1).toString
      case x: VarCharVector => new String(x.get(i), UTF_8)
      case x: LargeVarCharVector => new String(x.get(i), UTF_8)
      case x: TimeStampVector => "t" + micros(x, i)
      case x: DateDayVector => "d" + x.get(i)
      case x: DateMilliVector => "d" + Math.floorDiv(x.get(i), 86400000L)
      case x: ListVector =>
        elems(x.getDataVector, x.getElementStartIndex(i), x.getElementEndIndex(i))
      case x: LargeListVector =>
        elems(x.getDataVector, x.getElementStartIndex(i).toInt, x.getElementEndIndex(i).toInt)
      case x: FixedSizeListVector =>
        elems(x.getDataVector, i * x.getListSize, (i + 1) * x.getListSize)
      case x: StructVector =>
        x.getChildrenFromFields.asScala.sortBy(_.getName)
          .map(c => s"${c.getName}=${str(cell(c, i))}").mkString("{", ",", "}")
      case x: VarBinaryVector => x.get(i).map("%02x".format(_)).mkString
      case other => String.valueOf(other.getObject(i))
    }

  private def elems(child: ValueVector, from: Int, to: Int): String =
    (from until to).map(j => str(cell(child, j))).mkString("[", ",", "]")

  def str(c: Any): String = c match {
    case null => "∅"
    case d: Double => normFloat(d)
    case s => s.toString
  }

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  // FNV-1a over the canonical form of each cell, one column at a time
  private final val Prime = 0x100000001b3L
  private def byte(h: Long, b: Int): Long = (h ^ (b & 0xff)) * Prime
  private def long(h0: Long, x: Long): Long = {
    var h = h0; var k = 0
    while (k < 64) { h = byte(h, (x >>> k).toInt); k += 8 }
    h
  }
  private def chars(h0: Long, s: String): Long = {
    var h = h0; var k = 0
    while (k < s.length) { h = long(h, s.charAt(k)); k += 1 }
    h
  }
  private def bytes(h0: Long, b: Array[Byte]): Long = {
    var h = h0; var k = 0
    while (k < b.length) { h = byte(h, b(k)); k += 1 }
    h
  }

  /** Fold column `v` into the running hash of each of its `n` rows. Integers
    * (any width, and DECIMAL with scale 0) hash as one class, so do
    * timestamps of any unit; everything else hashes its canonical string. */
  private def hashColumn(v: ValueVector, h: Array[Long], n: Int): Unit = {
    def each(f: (Long, Int) => Long): Unit = {
      var i = 0
      while (i < n) { h(i) = if (v.isNull(i)) byte(h(i), 'n') else f(h(i), i); i += 1 }
    }
    v match {
      case x: BaseIntVector => each((hh, i) => long(byte(hh, 'i'), x.getValueAsLong(i)))
      case x: VarCharVector => each((hh, i) => bytes(byte(hh, 's'), x.get(i)))
      case x: TimeStampVector => each((hh, i) => long(byte(hh, 't'), micros(x, i)))
      case x: DecimalVector if x.getScale == 0 =>
        each { (hh, i) =>
          val b = x.getObject(i).toBigInteger
          if (b.bitLength < 64) long(byte(hh, 'i'), b.longValue) else chars(byte(hh, 'g'), b.toString)
        }
      case _ => each((hh, i) => chars(byte(hh, 'g'), str(cell(v, i))))
    }
    var i = 0
    while (i < n) { h(i) = byte(h(i), 0x1f); i += 1 }
  }

  private def order(fields: Seq[Field]): Seq[Int] =
    fields.indices.sortBy(i => fields(i).getName)

  def of(a: Arrow): Digest = {
    var rows = 0L
    var sum = 0L
    val fields = foreachBatch(a) { root =>
      val vs = root.getFieldVectors.asScala.toIndexedSeq
      val n = root.getRowCount
      val h = Array.fill(n)(0xcbf29ce484222325L)
      order(vs.map(_.getField)).foreach(c => hashColumn(vs(c), h, n))
      h.foreach(x => sum += mix(x))
      rows += n
    }.getOrElse(Nil)
    Digest(order(fields).map(i => s"${fields(i).getName}:${cls(fields(i))}"), rows, sum)
  }

  /** Every row as cells in column-name order. */
  def rows(a: Arrow): Seq[Array[Any]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Any]]()
    foreachBatch(a) { root =>
      val vs = root.getFieldVectors.asScala.toIndexedSeq
      val idx = order(vs.map(_.getField))
      (0 until root.getRowCount).foreach(i => out += idx.map(c => cell(vs(c), i)).toArray)
    }
    out.toSeq
  }

  /** Largest result the tolerant comparison loads into memory. */
  val TolerantLimit = 200000L

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  private def sortKey(r: Array[Any]): String = r.map {
    case d: Double if !d.isNaN && !d.isInfinite && d != 0.0 =>
      new java.math.BigDecimal(d).round(new java.math.MathContext(4)).toString
    case c => str(c)
  }.mkString("\u0001")

  /** `None` when `actual` matches `expected`, else what differs. Digests
    * decide; when only the row hashes differ, rows are sorted and compared
    * with a relative float tolerance of 1e-6 (a float sum can cross a
    * rounding boundary of the digest). */
  def compare(actual: Arrow, actualDigest: Digest, expected: => Arrow,
      expectedDigest: Digest): Option[String] =
    if (actualDigest.columns != expectedDigest.columns)
      Some(s"columns ${actualDigest.columns.mkString(",")} != ${expectedDigest.columns.mkString(",")}")
    else if (actualDigest.rows != expectedDigest.rows)
      Some(s"rows ${actualDigest.rows} != ${expectedDigest.rows}")
    else if (actualDigest.sum == expectedDigest.sum) None
    else if (actualDigest.rows > TolerantLimit) Some("row digest differs")
    else {
      val a = rows(actual).sortBy(sortKey)
      val e = rows(expected).sortBy(sortKey)
      a.zip(e).find { case (x, y) => !x.zip(y).forall { case (p, q) => close(p, q) } }
        .map { case (x, y) =>
          s"value ${x.map(str).mkString("|")} != ${y.map(str).mkString("|")}"
        }
    }
}
