package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal self-contained Python-pickle reader/writer (no external deps
  * — the pickle wire format is a public, documented stack machine),
  * closing the reference's `pd.read_pickle` / `to_pickle` storage
  * formats (`dataflow/utils/storage.py:543,652`).
  *
  * Data model: a table pickles as a `list` of `dict`s (row-major,
  * column-name keyed), the shape `pd.DataFrame(obj)` accepts directly
  * and `df.to_dict("records")` produces — so pickles interchange with
  * pandas users without pandas on this side. The reader is a pickle VM
  * over the DATA subset of the opcode space (protocols 0-5: ints,
  * floats, booleans, None, str, bytes, list/tuple/dict, memo) — it does
  * NOT execute GLOBAL/REDUCE/BUILD object reconstruction, which makes it
  * immune by construction to pickle's arbitrary-code-execution hazard.
  *
  * Like xlsx, a single pickle is inherently one-machine-sized: an
  * ingest/export edge format — read once, write parquet, process that.
  * Paths go through the Hadoop FileSystem API (file, hdfs, s3a…).
  */
object Pickle {

  // ---- public API ---------------------------------------------------------

  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(path))
    try readStream(spark, new BufferedInputStream(in)) finally in.close()
  }

  def write(df: DataFrame, path: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path), true)
    try writeStream(df, new BufferedOutputStream(out)) finally out.close()
  }

  private[sources] def readStream(spark: SparkSession, in: InputStream): DataFrame = {
    val obj = new Reader(in).load()
    // The VM builds mutable collections (ArrayBuffer / LinkedHashMap), so
    // match the scala.collection supertypes — `case l: Seq[_]` alone would
    // only match immutable.Seq on 2.13 and reject every loaded pickle.
    val records: Seq[Seq[(Any, Any)]] = obj match {
      case l: scala.collection.Seq[_] => l.toSeq.map {
        case m: scala.collection.Map[_, _] =>
          m.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
        case other => throw new IllegalArgumentException(
          s"pickle: expected a list of dicts, found list element ${other.getClass.getSimpleName}")
      }
      // a dict of column -> list (pandas to_dict("list")) transposes
      case m: scala.collection.Map[_, _] =>
        val cols = m.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.map {
          case (k, v: scala.collection.Seq[_]) => (k, v.toSeq)
          case (k, v) => throw new IllegalArgumentException(
            s"pickle: dict-of-lists expected, key $k maps to ${v.getClass.getSimpleName}")
        }
        val n = cols.headOption.map(_._2.length).getOrElse(0)
        require(cols.forall(_._2.length == n), "pickle: ragged dict-of-lists")
        (0 until n).map(i => cols.map { case (k, vs) => (k, vs(i)) })
      case other => throw new IllegalArgumentException(
        s"pickle: top-level ${if (other == null) "None" else other.getClass.getSimpleName} is not tabular")
    }
    toDataFrame(spark, records)
  }

  private[sources] def writeStream(df: DataFrame, out: OutputStream): Unit = {
    val cols = df.columns
    val rows = df.collect() // edge format: one-machine-sized by contract
    val w = new Writer(new DataOutputStream(out))
    w.proto()
    w.beginList()
    if (rows.nonEmpty) {
      w.mark()
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        w.beginDict()
        if (cols.nonEmpty) {
          w.mark()
          var c = 0
          while (c < cols.length) {
            w.value(cols(c))
            w.value(if (r.isNullAt(c)) null else r.get(c))
            c += 1
          }
          w.setItems()
        }
        i += 1
      }
      w.appends()
    }
    w.stop()
  }

  // ---- schema inference ---------------------------------------------------

  private def toDataFrame(spark: SparkSession, records: Seq[Seq[(Any, Any)]]): DataFrame = {
    // union of keys, first-seen order
    val cols = ArrayBuffer[String]()
    records.foreach(_.foreach { case (k, _) =>
      val s = k.toString
      if (!cols.contains(s)) cols += s
    })
    def colVals(c: String) = records.iterator.map(_.collectFirst {
      case (k, v) if k.toString == c => v
    }.orNull).filter(_ != null)
    val types = cols.map { c =>
      val vs = colVals(c).toSeq
      val t =
        if (vs.isEmpty) StringType
        else if (vs.forall(_.isInstanceOf[Long])) LongType
        else if (vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double])) DoubleType
        else if (vs.forall(_.isInstanceOf[Boolean])) BooleanType
        else if (vs.forall(_.isInstanceOf[Array[Byte]])) BinaryType
        else StringType
      StructField(c, t)
    }
    val schema = StructType(types.toSeq)
    val rows = records.map { m =>
      val byName = m.map { case (k, v) => (k.toString, v) }.toMap
      Row.fromSeq(cols.map { c =>
        (byName.getOrElse(c, null), schema(c.toString).dataType) match {
          case (null, _) => null
          case (v: Long, LongType) => v
          case (v: Long, DoubleType) => v.toDouble
          case (v: Double, DoubleType) => v
          case (v: Boolean, BooleanType) => v
          case (v: Array[Byte], BinaryType) => v
          case (v, StringType) => stringify(v)
          case (v, t) => throw new IllegalStateException(s"pickle: $v vs $t")
        }
      }.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 10000 + 1)),
      schema)
  }

  private def stringify(v: Any): String = v match {
    case b: Array[Byte] => new String(b, UTF_8)
    case s: scala.collection.Seq[_] => s.map(stringify).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${stringify(k)}: ${stringify(x)}" }
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  // ---- pickle VM (reader) -------------------------------------------------

  private object Mark // sentinel on the VM stack

  private final class Reader(in: InputStream) {
    private val stack = mutable.ArrayDeque[Any]()
    private val memo = mutable.HashMap[Int, Any]()

    private def u8(): Int = {
      val b = in.read(); if (b < 0) throw new EOFException("pickle: truncated"); b
    }
    private def bytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(a, off, n - off)
        if (r < 0) throw new EOFException("pickle: truncated")
        off += r
      }
      a
    }
    private def u16le(): Int = u8() | (u8() << 8)
    private def i32le(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    private def u64le(): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (u8().toLong << (8 * i)); i += 1 }
      v
    }
    private def line(): String = {
      val sb = new StringBuilder
      var c = u8()
      while (c != '\n') { sb.append(c.toChar); c = u8() }
      sb.toString
    }
    private def longFromLe(b: Array[Byte]): Long = {
      // two's-complement little-endian (LONG1/LONG4 payload)
      if (b.isEmpty) return 0L
      require(b.length <= 8, "pickle: integer wider than 64 bits")
      var v = if ((b(b.length - 1) & 0x80) != 0) -1L else 0L
      var i = b.length - 1
      while (i >= 0) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
      v
    }
    private def popMark(): Seq[Any] = {
      val items = ArrayBuffer[Any]()
      while (stack.nonEmpty && (stack.last.asInstanceOf[AnyRef] ne Mark))
        items.prepend(stack.removeLast())
      require(stack.nonEmpty, "pickle: no MARK on stack")
      stack.removeLast() // the mark
      items.toSeq
    }
    private def toPairs(items: Seq[Any]): Seq[(Any, Any)] = {
      require(items.length % 2 == 0, "pickle: DICT with odd key/value count")
      items.grouped(2).map { case Seq(k, v) => (k, v) }.toSeq
    }

    def load(): Any = {
      while (true) {
        val op = u8()
        op match {
          case 0x80 => u8() // PROTO n
          case 0x95 => u64le() // FRAME (length hint; stream continues)
          case '.' => // STOP
            require(stack.length == 1, "pickle: dirty stack at STOP")
            return stack.removeLast()
          case 'N' => stack.append(null)
          case 0x88 => stack.append(true) // NEWTRUE
          case 0x89 => stack.append(false) // NEWFALSE
          case 'J' => stack.append(i32le().toLong) // BININT
          case 'K' => stack.append(u8().toLong) // BININT1
          case 'M' => stack.append(u16le().toLong) // BININT2
          case 0x8a => stack.append(longFromLe(bytes(u8()))) // LONG1
          case 0x8b => stack.append(longFromLe(bytes(i32le()))) // LONG4
          case 'I' => // INT: text line; protocol-0 bools are "01"/"00"
            line() match {
              case "01" => stack.append(true)
              case "00" => stack.append(false)
              case s => stack.append(s.toLong)
            }
          case 'L' => stack.append(line().stripSuffix("L").toLong) // LONG
          case 'G' => // BINFLOAT: 8-byte big-endian IEEE double
            var bits = 0L
            var i = 0
            while (i < 8) { bits = (bits << 8) | u8().toLong; i += 1 }
            stack.append(java.lang.Double.longBitsToDouble(bits))
          case 'F' => stack.append(line().toDouble) // FLOAT
          case 0x8c => stack.append(new String(bytes(u8()), UTF_8)) // SHORT_BINUNICODE
          case 'X' => stack.append(new String(bytes(i32le()), UTF_8)) // BINUNICODE
          case 0x8d => // BINUNICODE8
            val n = u64le()
            require(n <= Int.MaxValue, "pickle: string too large")
            stack.append(new String(bytes(n.toInt), UTF_8))
          case 'V' => stack.append(line()) // UNICODE (raw-unicode-escape; plain subset)
          case 'S' => // STRING: repr-quoted line
            val s = line()
            require(s.length >= 2, "pickle: malformed STRING")
            stack.append(s.substring(1, s.length - 1))
          case 'U' => stack.append(new String(bytes(u8()), UTF_8)) // SHORT_BINSTRING
          case 'T' => stack.append(new String(bytes(i32le()), UTF_8)) // BINSTRING
          case 'C' => stack.append(bytes(u8())) // SHORT_BINBYTES
          case 'B' => stack.append(bytes(i32le())) // BINBYTES
          case 0x8e => // BINBYTES8
            val n = u64le()
            require(n <= Int.MaxValue, "pickle: bytes too large")
            stack.append(bytes(n.toInt))
          case '(' => stack.append(Mark) // MARK
          case ')' => stack.append(Seq.empty[Any]) // EMPTY_TUPLE
          case 't' => stack.append(popMark()) // TUPLE
          case 0x85 => stack.append(Seq(stack.removeLast())) // TUPLE1
          case 0x86 => // TUPLE2
            val b = stack.removeLast(); val a = stack.removeLast()
            stack.append(Seq(a, b))
          case 0x87 => // TUPLE3
            val c = stack.removeLast(); val b = stack.removeLast(); val a = stack.removeLast()
            stack.append(Seq(a, b, c))
          case ']' => stack.append(ArrayBuffer[Any]()) // EMPTY_LIST
          case 'l' => stack.append(ArrayBuffer(popMark(): _*)) // LIST
          case 'a' => // APPEND
            val v = stack.removeLast()
            stack.last.asInstanceOf[ArrayBuffer[Any]] += v
          case 'e' => // APPENDS
            val items = popMark()
            stack.last.asInstanceOf[ArrayBuffer[Any]] ++= items
          case '}' => stack.append(mutable.LinkedHashMap[Any, Any]()) // EMPTY_DICT
          case 'd' => stack.append(mutable.LinkedHashMap(toPairs(popMark()): _*)) // DICT
          case 's' => // SETITEM
            val v = stack.removeLast(); val k = stack.removeLast()
            stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]] += ((k, v))
          case 'u' => // SETITEMS
            val items = popMark()
            stack.last.asInstanceOf[mutable.LinkedHashMap[Any, Any]] ++=
              items.grouped(2).collect { case Seq(k, v) => (k, v) }
          case 0x94 => memo(memo.size) = stack.last // MEMOIZE
          case 'q' => memo(u8()) = stack.last // BINPUT
          case 'r' => memo(i32le()) = stack.last // LONG_BINPUT
          case 'h' => stack.append(memo(u8())) // BINGET
          case 'j' => stack.append(memo(i32le())) // LONG_BINGET
          case 'p' => memo(line().toInt) = stack.last // PUT
          case 'g' => stack.append(memo(line().toInt)) // GET
          case 0x8f => stack.append(mutable.LinkedHashSet[Any]()) // EMPTY_SET
          case 0x90 => // ADDITEMS (set)
            val items = popMark()
            stack.last.asInstanceOf[mutable.LinkedHashSet[Any]] ++= items
          case 0x91 => stack.append(mutable.LinkedHashSet(popMark(): _*)) // FROZENSET
          case other =>
            // GLOBAL/REDUCE/BUILD and friends: refuse, by design
            throw new IllegalArgumentException(
              f"pickle: unsupported opcode 0x$other%02x (object reconstruction is not executed)")
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  // ---- pickle writer (protocol 3: binary ints/floats/strings + bytes) -----

  private final class Writer(out: DataOutputStream) {
    def proto(): Unit = { out.write(0x80); out.write(3) }
    def mark(): Unit = out.write('(')
    def beginList(): Unit = out.write(']')
    def beginDict(): Unit = out.write('}')
    def appends(): Unit = out.write('e')
    def setItems(): Unit = out.write('u')
    def stop(): Unit = { out.write('.'); out.flush() }

    def value(v: Any): Unit = v match {
      case null => out.write('N')
      case b: Boolean => out.write(if (b) 0x88 else 0x89)
      case i: Int => writeLong(i.toLong)
      case l: Long => writeLong(l)
      case s: Short => writeLong(s.toLong)
      case b: Byte => writeLong(b.toLong)
      case f: Float => writeDouble(f.toDouble)
      case d: Double => writeDouble(d)
      case d: java.math.BigDecimal => writeDouble(d.doubleValue)
      case d: scala.math.BigDecimal => writeDouble(d.doubleValue)
      case s: String => writeString(s)
      case b: Array[Byte] => writeBytes(b)
      // Spark array/map column values surface as mutable.ArraySeq /
      // collection.Map — match the collection supertypes (2.13).
      case s: scala.collection.Seq[_] =>
        out.write(']')
        if (s.nonEmpty) { mark(); s.foreach(value); appends() }
      case m: scala.collection.Map[_, _] =>
        out.write('}')
        if (m.nonEmpty) {
          mark()
          m.foreach { case (k, x) => value(k); value(x) }
          setItems()
        }
      case r: Row =>
        out.write('}')
        if (r.length > 0) {
          mark()
          val names = r.schema.fieldNames
          var i = 0
          while (i < r.length) {
            value(names(i)); value(if (r.isNullAt(i)) null else r.get(i)); i += 1
          }
          setItems()
        }
      case ts: java.sql.Timestamp => writeString(ts.toString)
      case dt: java.sql.Date => writeString(dt.toString)
      case other => writeString(other.toString)
    }

    private def writeLong(v: Long): Unit = {
      if (v >= 0 && v <= 0xff) { out.write('K'); out.write(v.toInt) }
      else if (v >= 0 && v <= 0xffff) {
        out.write('M'); out.write(v.toInt & 0xff); out.write((v.toInt >> 8) & 0xff)
      } else if (v >= Int.MinValue && v <= Int.MaxValue) {
        out.write('J')
        var i = 0
        while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
      } else {
        // LONG1: minimal two's-complement little-endian
        val buf = ArrayBuffer[Byte]()
        var x = v
        var done = false
        while (!done) {
          buf += (x & 0xff).toByte
          val b = x & 0xff
          x >>= 8
          done = (x == 0 && (b & 0x80) == 0) || (x == -1 && (b & 0x80) != 0)
        }
        out.write(0x8a); out.write(buf.length)
        buf.foreach(b => out.write(b & 0xff))
      }
    }

    private def writeDouble(d: Double): Unit = {
      out.write('G')
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 7
      while (i >= 0) { out.write(((bits >> (8 * i)) & 0xff).toInt); i -= 1 }
    }

    private def writeString(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      out.write('X') // BINUNICODE — protocol-2-compatible, any length
      var i = 0
      while (i < 4) { out.write((b.length >> (8 * i)) & 0xff); i += 1 }
      out.write(b)
    }

    private def writeBytes(b: Array[Byte]): Unit = {
      if (b.length <= 0xff) { out.write('C'); out.write(b.length); out.write(b) }
      else {
        out.write('B')
        var i = 0
        while (i < 4) { out.write((b.length >> (8 * i)) & 0xff); i += 1 }
        out.write(b)
      }
    }
  }
}
