package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType, StructField, StructType}

import java.io.{DataInputStream, EOFException, InputStream}

/** Reader for the reference engine's NATIVE table files — `.tbl` (data)
  * and `.md` (schema) — so a user holding reference-format data can run
  * it directly, without regenerating from `.txt`
  * (reference src/ConvertTxtToTbl.java writes these: one
  * `ObjectOutputStream`, one serialized `qp.utils.Tuple` per row, each
  * wrapping an `ArrayList` of Integer/Float/String;
  * reference src/RandomDB.java writes the `.md` as one serialized
  * `qp.utils.Schema` of `qp.utils.Attribute`s with
  * INT=1 / STRING=2 / REAL=3 type tags — reference
  * src/qp/utils/Attribute.java:11).
  *
  * This is NOT a port of the reference's readers: those deserialize with
  * `ObjectInputStream` against the engine's own classes, which this repo
  * deliberately does not contain. Instead the stream is parsed directly
  * against the PUBLIC Java Object Serialization Stream Protocol (Java
  * Object Serialization Specification, ch. 6 — the `0xACED` grammar),
  * implementing exactly the subset these files can contain: class
  * descriptors, objects, strings, back-references, block data, and the
  * `writeObject` annotation convention `ArrayList` uses (default `size`
  * field, a 4-byte block, then the elements). Unknown stream features
  * (arrays, enums, proxies, resets) fail loudly with the tag byte.
  *
  * Scale shape: the format is a sequential single-node interchange —
  * one serialization stream cannot be split — so parallelism is PER
  * FILE: [[TblReader.loadTbl]] maps each `.tbl` file to one task via
  * `binaryFiles` and parses it streaming (constant-ish memory: the
  * protocol's back-reference table grows with distinct handles, which
  * for these tuple streams is bounded by the class descriptors plus the
  * string values — the format is for estate-boundary ingest, convert to
  * parquet once and scan that).
  */
object TblReader {

  // ---- the parsed-object model (only what the subset needs) -----------
  /** A parsed class descriptor: name, flags, fields as (typeCode, name)
    * in stream order, and the superclass chain.
    */
  final case class PClass(
      name: String, flags: Byte, fields: Seq[(Char, String)],
      parent: Option[PClass])

  /** A parsed object: its class, field values keyed by name (the whole
    * hierarchy flattened — these classes have no shadowed fields), and
    * any objects found in `writeObject` annotation data (for ArrayList:
    * the elements).
    */
  final class PObj(val cls: PClass) {
    val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
    val extras = scala.collection.mutable.ArrayBuffer[Any]()
  }

  private object EndBlock
  private final case class BlockData(n: Int)

  /** Streaming parser over one serialization stream. `next()` returns
    * each top-level content element; EOF returns None.
    */
  final class JavaSerialStream(in0: InputStream) {
    private val in = new DataInputStream(new java.io.BufferedInputStream(in0))
    private val handles = scala.collection.mutable.ArrayBuffer[Any]()

    locally {
      val magic = in.readUnsignedShort()
      val version = in.readUnsignedShort()
      require(magic == 0xACED && version == 5,
        f"not a Java serialization stream: magic=0x$magic%04X ver=$version")
    }

    def next(): Option[Any] = {
      val tag =
        try in.readUnsignedByte()
        catch { case _: EOFException => return None }
      Some(content(tag))
    }

    private def newHandle(v: Any): Int = { handles += v; handles.size - 1 }

    private def content(tag: Int): Any = tag match {
      case 0x70 => null // TC_NULL
      case 0x71 => // TC_REFERENCE
        val h = in.readInt() - 0x7E0000
        require(h >= 0 && h < handles.size, s"bad handle $h")
        handles(h)
      case 0x72 => classDesc() // TC_CLASSDESC
      case 0x73 => obj()       // TC_OBJECT
      case 0x74 =>             // TC_STRING
        val s = in.readUTF(); newHandle(s); s
      case 0x7C =>             // TC_LONGSTRING
        val n = in.readLong()
        require(n <= Int.MaxValue, s"string too long: $n")
        val b = new Array[Byte](n.toInt); in.readFully(b)
        // writeLongUTF bodies are modified UTF-8, same as writeUTF's
        val s = TblWriter.decodeModifiedUtf8(b)
        newHandle(s); s
      case 0x77 =>             // TC_BLOCKDATA
        val n = in.readUnsignedByte(); in.skipNBytes(n); BlockData(n)
      case 0x7A =>             // TC_BLOCKDATALONG
        val n = in.readInt(); in.skipNBytes(n); BlockData(n)
      case 0x78 => EndBlock    // TC_ENDBLOCKDATA
      case t => throw new IllegalArgumentException(
        f"unsupported serialization tag 0x$t%02X (subset reader: " +
          "no arrays/enums/proxies/resets in reference .tbl/.md streams)")
    }

    private def classDesc(): PClass = {
      val name = in.readUTF()
      in.readLong() // serialVersionUID: layout-driven parse, UID unused
      // handle is assigned BEFORE classDescInfo (spec §6.4.2) — a field
      // type string may be the next handle; reserve the slot and patch
      val slot = newHandle(null)
      val flags = in.readByte()
      val nFields = in.readUnsignedShort()
      val fields = (0 until nFields).map { _ =>
        val tc = in.readUnsignedByte().toChar
        val fname = in.readUTF()
        if (tc == 'L' || tc == '[') {
          // field type name: a String object (TC_STRING or a back-ref)
          content(in.readUnsignedByte()) match {
            case _: String => ()
            case other => throw new IllegalArgumentException(
              s"field type of $fname not a string: $other")
          }
        }
        (tc, fname)
      }
      // classAnnotation: these streams write none — expect end marker
      require(content(in.readUnsignedByte()) == EndBlock,
        s"unexpected class annotation on $name")
      val parent = content(in.readUnsignedByte()) match {
        case null         => None
        case p: PClass    => Some(p)
        case other        => throw new IllegalArgumentException(
          s"bad super descriptor of $name: $other")
      }
      val pc = PClass(name, flags, fields, parent)
      handles(slot) = pc
      pc
    }

    private def obj(): PObj = {
      val cls = content(in.readUnsignedByte()) match {
        case c: PClass => c
        case other => throw new IllegalArgumentException(
          s"object without class descriptor: $other")
      }
      val o = new PObj(cls)
      newHandle(o) // before data: the stream may back-reference it
      // classdata: superclass first (spec §6.4.2.2)
      val chain = Iterator.iterate(Option(cls))(_.flatMap(_.parent))
        .takeWhile(_.isDefined).map(_.get).toSeq.reverse
      chain.foreach { c =>
        require((c.flags & 0x02) != 0, // SC_SERIALIZABLE
          s"${c.name}: externalizable/unserializable flags=${c.flags}")
        c.fields.foreach { case (tc, fname) =>
          val v: Any = tc match {
            case 'I' => in.readInt()
            case 'F' => in.readFloat()
            case 'J' => in.readLong()
            case 'D' => in.readDouble()
            case 'S' => in.readShort()
            case 'B' => in.readByte()
            case 'C' => in.readChar()
            case 'Z' => in.readBoolean()
            case 'L' | '[' => content(in.readUnsignedByte())
            case t => throw new IllegalArgumentException(
              s"bad field type code $t")
          }
          o.fields(fname) = v
        }
        if ((c.flags & 0x01) != 0) { // SC_WRITE_METHOD: annotation data
          var done = false
          while (!done) content(in.readUnsignedByte()) match {
            case EndBlock     => done = true
            case _: BlockData => () // primitive block (ArrayList's size)
            case v            => o.extras += v
          }
        }
      }
      o
    }
  }

  // ---- reference-schema and tuple decoding -----------------------------
  /** (colname, typeTag) per column from a `.md` stream; typeTag is the
    * reference's INT=1 / STRING=2 / REAL=3.
    */
  def readSchema(in: InputStream): Seq[(String, Int)] =
    readSchemaDetail(in).map { case (n, t, _) => (n, t) }

  /** [[readSchema]] plus each attribute's `attrsize` — the byte-width
    * metadata the `.md` convention carries (4 for INT/REAL, max string
    * byte length for STRING). */
  def readSchemaDetail(in: InputStream): Seq[(String, Int, Int)] = {
    val s = new JavaSerialStream(in)
    val schema = s.next() match {
      case Some(o: PObj) if o.cls.name == "qp.utils.Schema" => o
      case other => throw new IllegalArgumentException(
        s"not a qp.utils.Schema stream: $other")
    }
    val attList = schema.fields.collectFirst {
      case (_, l: PObj) if l.cls.name == "java.util.ArrayList" => l
    }.getOrElse(throw new IllegalArgumentException("schema has no attset"))
    attList.extras.toSeq.map {
      case a: PObj if a.cls.name == "qp.utils.Attribute" =>
        (a.fields("colname").asInstanceOf[String],
          a.fields("type").asInstanceOf[Int],
          a.fields("attrsize").asInstanceOf[Int])
      case other => throw new IllegalArgumentException(s"bad attribute: $other")
    }
  }

  /** Streaming iterator of decoded rows from a `.tbl` stream: each
    * `qp.utils.Tuple`'s ArrayList unwrapped to Scala values
    * (Integer → Int, Float → Float, String → String).
    */
  def readTuples(in: InputStream): Iterator[Seq[Any]] = {
    val s = new JavaSerialStream(in)
    Iterator.continually(s.next()).takeWhile(_.isDefined).map {
      case Some(t: PObj) if t.cls.name == "qp.utils.Tuple" =>
        val lst = t.fields.collectFirst {
          case (_, l: PObj) if l.cls.name == "java.util.ArrayList" => l
        }.getOrElse(throw new IllegalArgumentException("tuple has no list"))
        lst.extras.toSeq.map(unbox)
      case other =>
        throw new IllegalArgumentException(s"not a tuple: $other")
    }
  }

  private def unbox(v: Any): Any = v match {
    case s: String => s
    case o: PObj if o.cls.name == "java.lang.Integer" => o.fields("value")
    case o: PObj if o.cls.name == "java.lang.Float"   => o.fields("value")
    case o: PObj if o.cls.name == "java.lang.Long"    => o.fields("value")
    case o: PObj if o.cls.name == "java.lang.Double"  => o.fields("value")
    case other => throw new IllegalArgumentException(s"bad cell: $other")
  }

  /** Spark type for a reference type tag. */
  def sparkType(tag: Int): org.apache.spark.sql.types.DataType = tag match {
    case 1 => IntegerType
    case 2 => StringType
    case 3 => FloatType
    case t => throw new IllegalArgumentException(s"unknown .md type tag $t")
  }

  /** Load reference-format data as a DataFrame: `.md` read once on the
    * driver (a few hundred bytes), `.tbl` files parsed in executors —
    * one task per file via `binaryFiles` (the format is sequential; a
    * directory of shard files parallelizes per file).
    */
  def loadTbl(
      spark: SparkSession, tblPath: String, mdPath: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(mdPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cols = {
      val in = fs.open(p)
      try readSchema(in) finally in.close()
    }
    val schema = StructType(cols.map { case (n, t) =>
      StructField(n, sparkType(t), nullable = false)
    })
    val rows = spark.sparkContext.binaryFiles(tblPath)
      .flatMap { case (_, stream) =>
        val in = stream.open()
        readTuples(in).map(Row.fromSeq)
      }
    spark.createDataFrame(rows, schema)
  }
}

/** Writer for the reference engine's native `.tbl` (data) and `.md`
  * (schema) files — the EXPORT arm completing [[TblReader]]'s interop
  * (r14; SURVEY row 52c): a user running the reference beside this
  * engine can hand it tables this engine produced, with no `.txt` +
  * `ConvertTxtToTbl` detour.
  *
  * Like the reader, this is NOT a port: it emits the PUBLIC Java Object
  * Serialization Stream Protocol (JOSS ch. 6) directly. The class
  * descriptors it writes (names, serialVersionUIDs, field layouts,
  * flags) are interop constants observed in the reference's own shipped
  * files (CUSTOMER.tbl/.md et al. — the same fixtures TblReaderSpec
  * proves the reader against); the stream they describe is exactly what
  * `ObjectOutputStream` produces for those classes: handle-accurate
  * back-references for repeated descriptors and interned type-signature
  * strings, `ArrayList`'s `writeObject` convention (default `size`
  * field, a 4-byte capacity block, the elements), boxed Integer/Float
  * cells, TC_STRING cells.
  *
  * `.md` field semantics mirror the reference's generators: `attrsize`
  * is 4 for INT/REAL and the max byte length for STRING, `tupleSize` is
  * the attrsize sum, `key` −1, `aggtype` 0 (values read from the shipped
  * CUSTOMER.md). The format is a sequential single-node interchange, so
  * the writer streams `toLocalIterator` through one file — estate-
  * boundary export, not a cluster sink (the reference's own
  * ConvertTxtToTbl is equally single-stream).
  */
object TblWriter {
  import java.io.{DataOutputStream, OutputStream}

  final case class Desc(
      name: String, uid: Long, flags: Int,
      fields: Seq[(Char, String, String)], parent: Option[Desc])

  val NumberDesc = Desc("java.lang.Number", -8742448824652078965L, 0x02,
    Nil, None)
  val IntegerDesc = Desc("java.lang.Integer", 1360826667806852920L, 0x02,
    Seq(('I', "value", "")), Some(NumberDesc))
  val FloatDesc = Desc("java.lang.Float", -2671257302660747028L, 0x02,
    Seq(('F', "value", "")), Some(NumberDesc))
  val ArrayListDesc = Desc("java.util.ArrayList", 8683452581122892189L,
    0x03, Seq(('I', "size", "")), None)
  val TupleDesc = Desc("qp.utils.Tuple", 1928781161746223552L, 0x02,
    Seq(('L', "_data", "Ljava/util/ArrayList;")), None)
  val SchemaDesc = Desc("qp.utils.Schema", 2779193728130899404L, 0x02,
    Seq(('I', "tupleSize", ""), ('L', "attset", "Ljava/util/ArrayList;")),
    None)
  val AttributeDesc = Desc("qp.utils.Attribute", -8217705756579532816L,
    0x02, Seq(('I', "aggtype", ""), ('I', "attrsize", ""),
      ('I', "key", ""), ('I', "type", ""),
      ('L', "colname", "Ljava/lang/String;"),
      ('L', "tblname", "Ljava/lang/String;")), None)

  /** Modified UTF-8 (JOSS / `DataOutput.writeUTF` encoding): U+0000 as
    * the 2-byte form C0 80, everything else CESU-8-style per-char — the
    * encoding BOTH string forms of the stream grammar use (TC_STRING's
    * 2-byte-length body and TC_LONGSTRING's 8-byte-length body;
    * `writeLongUTF` is modified UTF-8 too, not standard UTF-8).
    */
  private[tools] def modifiedUtf8(s: String): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream(s.length * 2)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      if (c >= 0x0001 && c <= 0x007F) bb.write(c)
      else if (c <= 0x07FF) { // includes U+0000 -> C0 80
        bb.write(0xC0 | ((c >> 6) & 0x1F)); bb.write(0x80 | (c & 0x3F))
      } else {
        bb.write(0xE0 | ((c >> 12) & 0x0F))
        bb.write(0x80 | ((c >> 6) & 0x3F))
        bb.write(0x80 | (c & 0x3F))
      }
      i += 1
    }
    bb.toByteArray
  }

  /** Inverse of [[modifiedUtf8]] — surrogate chars round-trip as-is
    * (a standard UTF-8 decoder would reject the CESU-8 pair bytes). */
  private[tools] def decodeModifiedUtf8(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length)
    var i = 0
    while (i < b.length) {
      val x = b(i) & 0xFF
      if (x < 0x80) { sb.append(x.toChar); i += 1 }
      else if ((x & 0xE0) == 0xC0) {
        sb.append((((x & 0x1F) << 6) | (b(i + 1) & 0x3F)).toChar); i += 2
      } else {
        sb.append((((x & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) |
          (b(i + 2) & 0x3F)).toChar)
        i += 3
      }
    }
    sb.toString
  }

  /** Streaming emitter for the serialization grammar subset. Handle
    * accounting mirrors the spec (§6.4.2): every new class descriptor,
    * string, and object consumes one handle in emission order; repeated
    * descriptors and type-signature strings back-reference.
    */
  final class JavaSerialWriter(out0: OutputStream) {
    private val out = new DataOutputStream(
      new java.io.BufferedOutputStream(out0))
    private var nextHandle = 0
    private val descHandles = scala.collection.mutable.HashMap[String, Int]()
    private val metaStrings = scala.collection.mutable.HashMap[String, Int]()
    out.writeShort(0xACED); out.writeShort(5)

    def flush(): Unit = out.flush()
    private def alloc(): Int = { val h = nextHandle; nextHandle += 1; h }
    private def ref(h: Int): Unit = {
      out.writeByte(0x71); out.writeInt(0x7E0000 + h)
    }

    /** Type-signature string: deduped by value, as ObjectOutputStream
      * back-references the interned signature objects. */
    private def metaString(s: String): Unit = metaStrings.get(s) match {
      case Some(h) => ref(h)
      case None =>
        out.writeByte(0x74); out.writeUTF(s); metaStrings(s) = alloc()
    }

    /** Data string cell: fresh TC_STRING, consumes a handle (distinct
      * runtime objects get distinct handles in the reference writer).
      * Strings whose modified-UTF-8 encoding exceeds the 2-byte length
      * field (65535 bytes) switch to TC_LONGSTRING with an 8-byte
      * length, exactly as `ObjectOutputStream.writeString` does — the
      * former unconditional `writeUTF` threw UTFDataFormatException
      * there and left a truncated file (a `documents`-sized text column
      * trips it immediately). */
    def string(s: String): Unit = {
      val bytes = modifiedUtf8(s)
      if (bytes.length <= 65535) {
        out.writeByte(0x74) // TC_STRING
        out.writeShort(bytes.length)
      } else {
        out.writeByte(0x7C) // TC_LONGSTRING
        out.writeLong(bytes.length.toLong)
      }
      out.write(bytes)
      alloc(); ()
    }

    def i4(v: Int): Unit = out.writeInt(v)
    def f4(v: Float): Unit = out.writeFloat(v)

    private def classDesc(d: Desc): Unit = descHandles.get(d.name) match {
      case Some(h) => ref(h)
      case None =>
        out.writeByte(0x72) // TC_CLASSDESC
        out.writeUTF(d.name)
        out.writeLong(d.uid)
        descHandles(d.name) = alloc() // handle BEFORE classDescInfo
        out.writeByte(d.flags)
        out.writeShort(d.fields.size)
        d.fields.foreach { case (tc, fname, sig) =>
          out.writeByte(tc)
          out.writeUTF(fname)
          if (tc == 'L' || tc == '[') metaString(sig)
        }
        out.writeByte(0x78) // classAnnotation: none
        d.parent match {
          case Some(p) => classDesc(p)
          case None    => out.writeByte(0x70) // TC_NULL
        }
    }

    /** TC_OBJECT header; caller writes the class-data (super first). */
    def beginObject(d: Desc): Unit = {
      out.writeByte(0x73); classDesc(d); alloc(); ()
    }

    /** ArrayList of `n` elements: default size field, the legacy
      * capacity block, the elements (written by `elems`), end marker. */
    def arrayList(n: Int)(elems: => Unit): Unit = {
      beginObject(ArrayListDesc)
      i4(n)                                 // default field: size
      out.writeByte(0x77); out.writeByte(4) // writeObject capacity block
      i4(n)
      elems
      out.writeByte(0x78) // TC_ENDBLOCKDATA
    }

    def cell(v: Any): Unit = v match {
      case i: Int    => beginObject(IntegerDesc); i4(i)
      case l: Long   =>
        require(l >= Int.MinValue && l <= Int.MaxValue,
          s"INT column value out of the reference's 32-bit range: $l")
        beginObject(IntegerDesc); i4(l.toInt)
      case f: Float  => beginObject(FloatDesc); f4(f)
      case d: Double => beginObject(FloatDesc); f4(d.toFloat)
      case s: String => string(s)
      case null => throw new IllegalArgumentException(
        "null cell — the reference .tbl format has no null " +
          "representation; coalesce or filter nullable columns first")
      case other => throw new IllegalArgumentException(
        s"unsupported .tbl cell: $other (${other.getClass})")
    }

    def tuple(cells: Seq[Any]): Unit = {
      beginObject(TupleDesc)
      arrayList(cells.size)(cells.foreach(cell))
    }
  }

  /** Write one `.tbl` stream of tuples. */
  def writeTuples(out: OutputStream, rows: Iterator[Seq[Any]]): Unit = {
    val w = new JavaSerialWriter(out)
    rows.foreach(w.tuple)
    w.flush()
  }

  /** Write one `.md` schema: `cols` = (colname, typeTag, attrsize) in
    * column order with the reference's INT=1/STRING=2/REAL=3 tags. */
  def writeSchema(
      out: OutputStream, tblname: String,
      cols: Seq[(String, Int, Int)]): Unit = {
    val w = new JavaSerialWriter(out)
    w.beginObject(SchemaDesc)
    w.i4(cols.map(_._3).sum) // tupleSize = attrsize sum (CUSTOMER.md)
    w.arrayList(cols.size) {
      cols.foreach { case (colname, tag, size) =>
        w.beginObject(AttributeDesc)
        w.i4(0)    // aggtype
        w.i4(size) // attrsize
        w.i4(-1)   // key
        w.i4(tag)  // type
        w.string(colname)
        w.string(tblname)
      }
    }
    w.flush()
  }

  /** Export a DataFrame as `NAME.tbl` + `NAME.md` under `outDir`.
    * Column typing follows the reference's three-type system: integral →
    * INT (32-bit, out-of-range fails loudly), fractional → REAL (float),
    * strings → STRING with attrsize = max observed byte length (the
    * CUSTOMER.md convention; 20 when the column is all-empty). Rows
    * stream through `toLocalIterator` — one sequential file, the
    * format's own constraint.
    */
  def exportTbl(
      df: org.apache.spark.sql.DataFrame, tblname: String,
      outDir: String): (java.nio.file.Path, java.nio.file.Path) = {
    import org.apache.spark.sql.functions.{col, octet_length, max => smax}
    import org.apache.spark.sql.types._
    val tags: Seq[(String, Int)] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case IntegerType | LongType | ShortType | ByteType => f.name -> 1
        case StringType                                    => f.name -> 2
        case FloatType | DoubleType                        => f.name -> 3
        case t => throw new IllegalArgumentException(
          s"${f.name}: $t has no reference .tbl type (INT/STRING/REAL)")
      }
    }
    val strCols = tags.collect { case (n, 2) => n }
    val sizes: Map[String, Int] =
      if (strCols.isEmpty) Map.empty
      else {
        // attrsize is max BYTE length (the CUSTOMER.md convention) —
        // character length() understates it on non-ASCII columns
        val row = df.agg(
          smax(octet_length(col(strCols.head))).as(strCols.head),
          strCols.tail.map(c => smax(octet_length(col(c))).as(c)): _*).head()
        strCols.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(i) || row.getInt(i) <= 0) 20
                else row.getInt(i))
        }.toMap
      }
    val cols = tags.map { case (n, t) =>
      (n, t, if (t == 2) sizes(n) else 4)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val mdPath = java.nio.file.Paths.get(outDir, s"$tblname.md")
    val mdOut = java.nio.file.Files.newOutputStream(mdPath)
    try writeSchema(mdOut, tblname, cols) finally mdOut.close()
    val tblPath = java.nio.file.Paths.get(outDir, s"$tblname.tbl")
    val tblOut = java.nio.file.Files.newOutputStream(tblPath)
    try writeTuples(tblOut,
      df.toLocalIterator().asScala.map(r =>
        (0 until r.length).map(r.get)))
    finally tblOut.close()
    (tblPath, mdPath)
  }
  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}

/** `runMain graft.tools.TblExport <parquetDir> <table> <outDir>` — export
  * a catalog table to reference-native `NAME.tbl` + `NAME.md`.
  */
object TblExport {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: TblExport <parquetDir> <table> <outDir>")
    val spark = graft.Session.local()
    val df = graft.Tables.load(spark, args(0), args(1))
    val (t, m) = TblWriter.exportTbl(df, args(1).toUpperCase, args(2))
    println(s"[tbl] wrote $t and $m")
    spark.stop()
  }
}

/** `runMain graft.tools.TblToParquet <table.tbl> <table.md> <outDir>` —
  * reference-native data straight to parquet (the `.txt` route is
  * [[CsvToParquet]]; this one needs no text re-export).
  */
object TblToParquet {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: TblToParquet <table.tbl> <table.md> <outDir>")
    val spark = graft.Session.local()
    val df = TblReader.loadTbl(spark, args(0), args(1))
    df.write.mode("overwrite").parquet(args(2))
    println(s"[tbl] wrote ${args(2)}")
    spark.stop()
  }
}
