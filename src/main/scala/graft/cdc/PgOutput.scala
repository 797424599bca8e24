package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Binary pgoutput (logical replication) decoder + relation registry — the
  * real S2 ingest edge. Re-expresses the reference's per-message decode
  * (/root/reference/lib/realtime/adapters/postgres/decoder.ex:151-233) and
  * its relation-schema map
  * (/root/reference/lib/realtime/tenants/replication_connection.ex:384-404)
  * as a **per-partition streaming decode**: the WAL is ordered, Relation
  * messages precede the tuples that use them, and a schema change
  * mid-stream is just a newer Relation message overwriting the registry
  * entry — so the registry is partition-local mutable state inside one
  * `mapPartitions` pass (the honest use-case for dropping below the
  * DataFrame API: per-row variable-length binary parsing with sequential
  * state).
  *
  * Wire format is the public PostgreSQL "Logical Streaming Replication
  * Protocol" (message tags B/C/O/R/Y/I/U/D/T; tuple markers n/u/t/b).
  * Scale shape: decode is narrow (no shuffle) and linear; partition the
  * slot stream by (slot, lsn-range) upstream so each task decodes a
  * contiguous WAL chunk with its own registry — Relation messages are
  * per-chunk re-sent on real slots after reconnect, which is exactly the
  * per-partition registry assumption.
  */
object PgOutput {

  /** Tuple value ADT for encode: SQL NULL, unchanged TOAST, text value,
    * binary-format value (the 'b' marker; decoded per the column type). */
  sealed trait TupleVal extends Serializable
  case object TNull extends TupleVal
  case object TToast extends TupleVal
  final case class TText(v: String) extends TupleVal
  final case class TBinary(v: Array[Byte]) extends TupleVal

  /** One column of a Relation message. */
  final case class RelColumn(name: String, typeName: String, isKey: Boolean)

  /** Registry entry: the decoded Relation message for one table oid. */
  final case class RelationMeta(
      id: Int, namespace: String, name: String,
      replicaIdentity: String, columns: Seq[RelColumn])

  /** Flat decoded WAL record — one row per protocol message. For
    * INSERT/UPDATE/DELETE, `record`/`old_record` carry column-name → text
    * value (SQL NULL → null value); columns arriving as unchanged TOAST
    * ('u' marker, decoder.ex:243-244) are listed in `unchanged_toast` and
    * absent from `record` (downstream [[graft.walrus.Walrus.toastMerge]]
    * fills them from the old image). */
  final case class WalChange(
      seq: Long,
      lsn: Long,
      xid: Long,
      message: String,
      change_schema: String,
      change_table: String,
      commit_timestamp: String,
      record: Map[String, String],
      old_record: Map[String, String],
      unchanged_toast: Seq[String])

  /** Standard pg_type OIDs (public catalog constants) — the COMPLETE
    * built-in basic-type catalog the reference ships, following its
    * OidDatabase naming (`_`-prefix for arrays, oid_database.ex:36-170;
    * the constants themselves are stable pg_catalog values). Unknown
    * oids (extension types — never stable across databases) decode to
    * the in-band `oid$N` name, the analog of the reference's
    * fall-through to the numeric id itself. */
  val TypeOids: Map[String, Int] = Map(
    "bool" -> 16, "bytea" -> 17, "char" -> 18, "name" -> 19, "int8" -> 20,
    "int2" -> 21, "int2vector" -> 22, "int4" -> 23, "regproc" -> 24,
    "text" -> 25, "oid" -> 26, "tid" -> 27, "xid" -> 28, "cid" -> 29,
    "oidvector" -> 30, "json" -> 114, "xml" -> 142, "_xml" -> 143,
    "pg_node_tree" -> 194, "_json" -> 199, "smgr" -> 210, "point" -> 600,
    "lseg" -> 601, "path" -> 602, "box" -> 603, "polygon" -> 604,
    "line" -> 628, "_line" -> 629, "cidr" -> 650, "_cidr" -> 651,
    "float4" -> 700, "float8" -> 701, "abstime" -> 702, "reltime" -> 703,
    "tinterval" -> 704, "circle" -> 718, "_circle" -> 719, "macaddr8" -> 774,
    "_macaddr8" -> 775, "money" -> 790, "_money" -> 791, "macaddr" -> 829,
    "inet" -> 869, "_bool" -> 1000, "_bytea" -> 1001, "_char" -> 1002,
    "_name" -> 1003, "_int2" -> 1005, "_int2vector" -> 1006, "_int4" -> 1007,
    "_regproc" -> 1008, "_text" -> 1009, "_tid" -> 1010, "_xid" -> 1011,
    "_cid" -> 1012, "_oidvector" -> 1013, "_bpchar" -> 1014,
    "_varchar" -> 1015, "_int8" -> 1016, "_point" -> 1017, "_lseg" -> 1018,
    "_path" -> 1019, "_box" -> 1020, "_float4" -> 1021, "_float8" -> 1022,
    "_abstime" -> 1023, "_reltime" -> 1024, "_tinterval" -> 1025,
    "_polygon" -> 1027, "_oid" -> 1028, "aclitem" -> 1033,
    "_aclitem" -> 1034, "_macaddr" -> 1040, "_inet" -> 1041,
    "bpchar" -> 1042, "varchar" -> 1043, "date" -> 1082, "time" -> 1083,
    "timestamp" -> 1114, "_timestamp" -> 1115, "_date" -> 1182,
    "_time" -> 1183, "timestamptz" -> 1184, "_timestamptz" -> 1185,
    "interval" -> 1186, "_interval" -> 1187, "_numeric" -> 1231,
    "_cstring" -> 1263, "timetz" -> 1266, "_timetz" -> 1270, "bit" -> 1560,
    "_bit" -> 1561, "varbit" -> 1562, "_varbit" -> 1563, "numeric" -> 1700,
    "refcursor" -> 1790, "_refcursor" -> 2201, "regprocedure" -> 2202,
    "regoper" -> 2203, "regoperator" -> 2204, "regclass" -> 2205,
    "regtype" -> 2206, "_regprocedure" -> 2207, "_regoper" -> 2208,
    "_regoperator" -> 2209, "_regclass" -> 2210, "_regtype" -> 2211,
    "_txid_snapshot" -> 2949, "uuid" -> 2950, "_uuid" -> 2951,
    "txid_snapshot" -> 2970, "pg_lsn" -> 3220, "_pg_lsn" -> 3221,
    "pg_ndistinct" -> 3361, "pg_dependencies" -> 3402, "tsvector" -> 3614,
    "tsquery" -> 3615, "gtsvector" -> 3642, "_tsvector" -> 3643,
    "_gtsvector" -> 3644, "_tsquery" -> 3645, "regconfig" -> 3734,
    "_regconfig" -> 3735, "regdictionary" -> 3769, "_regdictionary" -> 3770,
    "jsonb" -> 3802, "_jsonb" -> 3807, "_int4range" -> 3905,
    "_numrange" -> 3907, "_tsrange" -> 3909, "_tstzrange" -> 3911,
    "_daterange" -> 3913, "_int8range" -> 3927, "regnamespace" -> 4089,
    "_regnamespace" -> 4090, "regrole" -> 4096, "_regrole" -> 4097)
  private val OidNames: Map[Int, String] = TypeOids.map(_.swap)

  /** Microseconds between the PG epoch (2000-01-01) and the Unix epoch. */
  val PgEpochMicros: Long = 946684800000000L

  // ------------------------------------------------------------------ encode
  // Deterministic byte encoders (test feeds + the s2 oracle round-trip).

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def buf(n: Int) = ByteBuffer.allocate(n) // big-endian by default

  def encodeBegin(finalLsn: Long, tsMicros1970: Long, xid: Int): Array[Byte] =
    buf(1 + 8 + 8 + 4).put('B'.toByte).putLong(finalLsn)
      .putLong(tsMicros1970 - PgEpochMicros).putInt(xid).array()

  def encodeCommit(lsn: Long, endLsn: Long, tsMicros1970: Long): Array[Byte] =
    buf(1 + 1 + 8 + 8 + 8).put('C'.toByte).put(0.toByte).putLong(lsn)
      .putLong(endLsn).putLong(tsMicros1970 - PgEpochMicros).array()

  def encodeRelation(meta: RelationMeta): Array[Byte] = {
    val cols = meta.columns.flatMap { c =>
      val flags = if (c.isKey) 1 else 0
      Array(flags.toByte) ++ cstr(c.name) ++
        buf(8).putInt(TypeOids.getOrElse(c.typeName, 25)).putInt(-1).array()
    }.toArray
    val head = Array('R'.toByte) ++ buf(4).putInt(meta.id).array() ++
      cstr(meta.namespace) ++ cstr(meta.name) ++
      Array(meta.replicaIdentity.headOption.getOrElse('d').toByte) ++
      buf(2).putShort(meta.columns.size.toShort).array()
    head ++ cols
  }

  private def encodeTuple(values: Seq[TupleVal]): Array[Byte] =
    buf(2).putShort(values.size.toShort).array() ++ values.flatMap {
      case TNull => Array('n'.toByte)
      case TToast => Array('u'.toByte)
      case TText(v) =>
        val b = v.getBytes(UTF_8)
        Array('t'.toByte) ++ buf(4).putInt(b.length).array() ++ b
      case TBinary(b) =>
        Array('b'.toByte) ++ buf(4).putInt(b.length).array() ++ b
    }

  def encodeInsert(relId: Int, values: Seq[TupleVal]): Array[Byte] =
    Array('I'.toByte) ++ buf(4).putInt(relId).array() ++
      Array('N'.toByte) ++ encodeTuple(values)

  /** `old` = the pre-image ('O' submessage) when replica identity FULL. */
  def encodeUpdate(relId: Int, old: Option[Seq[TupleVal]],
      newValues: Seq[TupleVal]): Array[Byte] =
    Array('U'.toByte) ++ buf(4).putInt(relId).array() ++
      old.map(o => Array('O'.toByte) ++ encodeTuple(o)).getOrElse(Array.empty[Byte]) ++
      Array('N'.toByte) ++ encodeTuple(newValues)

  def encodeDelete(relId: Int, key: Seq[TupleVal],
      keyKind: Char = 'K'): Array[Byte] =
    Array('D'.toByte) ++ buf(4).putInt(relId).array() ++
      Array(keyKind.toByte) ++ encodeTuple(key)

  def encodeTruncate(relIds: Seq[Int], options: Int = 0): Array[Byte] =
    buf(1 + 4 + 1 + 4 * relIds.size).put('T'.toByte).putInt(relIds.size)
      .put(options.toByte).tap(b => relIds.foreach(b.putInt)).array()

  /** Logical decoding message (`pg_logical_emit_message`): Byte1('M'),
    * Int8 flags (1 = transactional), Int64 lsn, cstring prefix, Int32
    * length, content bytes. */
  def encodeLogicalMessage(transactional: Boolean, lsn: Long,
      prefix: String, content: Array[Byte]): Array[Byte] =
    Array('M'.toByte, (if (transactional) 1 else 0).toByte) ++
      buf(8).putLong(lsn).array() ++ cstr(prefix) ++
      buf(4).putInt(content.length).array() ++ content

  // Protocol v2 streamed in-progress transactions (logical_streaming of
  // large transactions): Stream Start/Stop bracket a chunk; every data
  // message inside a chunk carries the transaction xid right after its
  // tag byte; Stream Commit/Abort end the transaction as a whole.

  def encodeStreamStart(xid: Int, firstSegment: Boolean = true): Array[Byte] =
    buf(1 + 4 + 1).put('S'.toByte).putInt(xid)
      .put((if (firstSegment) 1 else 0).toByte).array()

  def encodeStreamStop(): Array[Byte] = Array('E'.toByte)

  def encodeStreamCommit(xid: Int, lsn: Long, endLsn: Long,
      tsMicros1970: Long): Array[Byte] =
    buf(1 + 4 + 1 + 8 + 8 + 8).put('c'.toByte).putInt(xid).put(0.toByte)
      .putLong(lsn).putLong(endLsn)
      .putLong(tsMicros1970 - PgEpochMicros).array()

  def encodeStreamAbort(xid: Int, subXid: Int): Array[Byte] =
    buf(1 + 4 + 4).put('A'.toByte).putInt(xid).putInt(subXid).array()

  /** Wrap a data message for transmission inside a streamed chunk: the
    * xid is injected between the tag byte and the payload, exactly as
    * the v2 wire format prescribes. */
  def streamed(xid: Int, msg: Array[Byte]): Array[Byte] =
    Array(msg.head) ++ buf(4).putInt(xid).array() ++ msg.tail

  private implicit class Tap[A](private val a: A) extends AnyVal {
    def tap(f: A => Unit): A = { f(a); a }
  }

  // ------------------------------------------------------------------ decode

  private final class Reader(bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes)
    def i8(): Int = bb.get() & 0xff
    def i16(): Int = bb.getShort() & 0xffff
    def i32(): Int = bb.getInt()
    def i64(): Long = bb.getLong()
    def take(n: Int): Array[Byte] = { val a = new Array[Byte](n); bb.get(a); a }
    def cstring(): String = {
      val sb = new java.io.ByteArrayOutputStream()
      var b = bb.get()
      while (b != 0) { sb.write(b.toInt); b = bb.get() }
      new String(sb.toByteArray, UTF_8)
    }
  }

  // Full microsecond precision: the reference decodes WAL timestamps to
  // native DateTime at microsecond resolution (decoder epoch math) — only
  // the wal2json/apply_rls edge truncates to millis. Truncating here would
  // lose ordering information between commits inside the same millisecond.
  private val IsoMicros = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  private def isoFromPgMicros(pgMicros: Long): String = {
    val unixMicros = pgMicros + PgEpochMicros
    IsoMicros.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(unixMicros, 1000000L),
      Math.floorMod(unixMicros, 1000000L) * 1000L))
  }

  /** Decode one tuple against the relation's columns. Returns
    * (name→value entries incl. explicit nulls, toast column names). */
  private def decodeTuple(r: Reader, cols: Seq[RelColumn])
      : (Map[String, String], Seq[String]) = {
    val n = r.i16()
    val entries = mutable.LinkedHashMap.empty[String, String]
    val toast = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      val name = if (i < cols.size) cols(i).name else s"_col$i"
      val tpe = if (i < cols.size) cols(i).typeName else "text"
      r.i8().toChar match {
        case 'n' => entries += name -> null
        case 'u' => toast += name
        case 't' => entries += name -> new String(r.take(r.i32()), UTF_8)
        case 'b' =>
          entries += name -> decodeBinaryValue(tpe, r.take(r.i32()))
        case other =>
          throw new IllegalArgumentException(s"bad tuple marker: $other")
      }
      i += 1
    }
    (entries.toMap, toast.toSeq)
  }

  /** Decode one binary-format ('b') column value to its Postgres TEXT
    * rendering, so binary- and text-format tuples land in the identical
    * `record` map. The reference's binary decoder covers only
    * bool/jsonb/timestamp/text/uuid/bytea and CRASHES on anything else
    * (decoder.ex:256-280, no fallthrough); the type-name catalog it keys
    * on covers the full built-in space (oid_database.ex:36-170). Here the
    * date/time family, numeric, interval, bytea, and the common array
    * types decode to the exact `*_out` text forms; genuinely unknown
    * types fall back to `\x`-prefixed hex (bytea-style — visibly opaque,
    * never silently wrong-looking). */
  def decodeBinaryValue(tpe: String, data: Array[Byte]): String = tpe match {
    case "bool" => (data.nonEmpty && data(0) == 1.toByte).toString
    case "jsonb" => new String(data.drop(1), UTF_8) // version byte
    case "text" | "varchar" | "bpchar" | "char" | "name" | "json" =>
      new String(data, UTF_8)
    // timestamptz shares the timestamp wire format (int64 pg-epoch
    // micros, already UTC on the wire)
    case "timestamp" | "timestamptz" =>
      isoFromPgMicros(ByteBuffer.wrap(data).getLong())
    case "uuid" =>
      val bb = ByteBuffer.wrap(data)
      new java.util.UUID(bb.getLong(), bb.getLong()).toString
    case "int2" => ByteBuffer.wrap(data).getShort().toString
    case "int4" => ByteBuffer.wrap(data).getInt().toString
    case "int8" => ByteBuffer.wrap(data).getLong().toString
    case "float4" => ByteBuffer.wrap(data).getFloat().toString
    case "float8" => ByteBuffer.wrap(data).getDouble().toString
    case "bytea" => "\\x" + data.map("%02x".format(_)).mkString
    case "date" => // int32 days since 2000-01-01
      java.time.LocalDate.of(2000, 1, 1)
        .plusDays(ByteBuffer.wrap(data).getInt().toLong).toString
    case "time" => // int64 micros since midnight
      timeText(ByteBuffer.wrap(data).getLong())
    case "timetz" => // int64 micros + int32 zone (seconds west of UTC)
      val bb = ByteBuffer.wrap(data)
      val t = timeText(bb.getLong())
      val zone = bb.getInt()
      val east = -zone // displayed offset is seconds EAST (time.c timetz_out)
      val sign = if (east < 0) "-" else "+"
      val abs = math.abs(east)
      val hh = f"${abs / 3600}%02d"
      val mm = abs % 3600 / 60
      val ss = abs % 60
      // EncodeTimezone (backend/utils/adt/datetime.c): minutes printed
      // when minutes OR seconds nonzero; seconds printed when nonzero
      t + sign + hh +
        (if (mm != 0 || ss != 0) f":$mm%02d" else "") +
        (if (ss != 0) f":$ss%02d" else "")
    case "interval" => intervalText(data)
    case "numeric" => numericText(data)
    case t if t.startsWith("_") => arrayText(data)
    case _ => "\\x" + data.map("%02x".format(_)).mkString
  }

  /** `time_out` text: HH:MM:SS with the fractional micros trimmed of
    * trailing zeros, omitted entirely when zero. */
  private def timeText(micros: Long): String = {
    val sec = micros / 1000000L
    val frac = (micros % 1000000L).toInt
    val base = f"${sec / 3600}%02d:${sec % 3600 / 60}%02d:${sec % 60}%02d"
    if (frac == 0) base
    else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** `interval_out` postgres-style text: int64 micros + int32 days +
    * int32 months on the wire; "N year(s) N mon(s) N day(s) HH:MM:SS[.f]"
    * with zero parts omitted (time kept when everything is zero). */
  private def intervalText(data: Array[Byte]): String = {
    val bb = ByteBuffer.wrap(data)
    val micros = bb.getLong(); val days = bb.getInt(); val months = bb.getInt()
    val parts = mutable.ArrayBuffer.empty[String]
    val years = months / 12; val mons = months % 12
    def unit(n: Int, w: String): Unit = // interval_out: plural unless == 1
      if (n != 0) parts += s"$n $w" + (if (n != 1) "s" else "")
    unit(years, "year"); unit(mons, "mon"); unit(days, "day")
    if (micros != 0 || parts.isEmpty) {
      val sign = if (micros < 0) "-" else ""
      val a = math.abs(micros)
      parts += sign + timeText(a)
    }
    parts.mkString(" ")
  }

  /** `numeric_out` text from the wire format: ndigits/weight/sign/dscale
    * headers then base-10000 digits. Exact decimal arithmetic — never a
    * float round-trip. */
  private def numericText(data: Array[Byte]): String = {
    val bb = ByteBuffer.wrap(data)
    val ndigits = bb.getShort().toInt
    val weight = bb.getShort().toInt
    val sign = bb.getShort() & 0xffff
    val dscale = bb.getShort().toInt
    sign match {
      case 0xC000 => "NaN"
      case 0xD000 => "Infinity"
      case 0xF000 => "-Infinity"
      case _ =>
        var acc = java.math.BigDecimal.ZERO
        var i = 0
        while (i < ndigits) {
          val d = java.math.BigDecimal.valueOf(bb.getShort().toLong)
          acc = acc.add(d.scaleByPowerOfTen(4 * (weight - i)))
          i += 1
        }
        if (sign == 0x4000) acc = acc.negate()
        // trailing base-10000 zeros may exceed dscale; they are exact zeros
        acc.setScale(dscale, java.math.RoundingMode.DOWN).toPlainString
    }
  }

  /** `array_out` text from the wire format: ndim/hasnull/elemoid headers,
    * per-dim (length, lower bound), then length-prefixed elements (-1 =
    * NULL). Elements decode via their own oid and quote per array_out
    * rules; multi-dim nests braces row-major. */
  private def arrayText(data: Array[Byte]): String = {
    val bb = ByteBuffer.wrap(data)
    val ndim = bb.getInt(); bb.getInt() // hasnull (recomputable)
    val elemOid = bb.getInt()
    val elemType = OidNames.getOrElse(elemOid, s"oid$elemOid")
    val dims = (0 until ndim).map { _ =>
      val len = bb.getInt(); bb.getInt() // lower bound
      len
    }
    if (ndim == 0) return "{}"
    def quote(s: String): String = {
      val needs = s.isEmpty || s.equalsIgnoreCase("null") ||
        s.exists(c => c == '{' || c == '}' || c == ',' || c == '"' ||
          c == '\\' || Character.isWhitespace(c))
      if (!needs) s
      else "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      } + "\""
    }
    def level(d: Int): String =
      if (d == ndim) {
        val len = bb.getInt()
        if (len == -1) "NULL"
        else {
          val bytes = new Array[Byte](len); bb.get(bytes)
          quote(decodeBinaryValue(elemType, bytes))
        }
      } else
        (0 until dims(d)).map(_ => level(d + 1))
          .mkString("{", ",", "}")
    level(0)
  }

  private def decodeColumns(r: Reader, n: Int): Seq[RelColumn] =
    (0 until n).map { _ =>
      val flags = r.i8()
      val name = r.cstring()
      val oid = r.i32()
      r.i32() // type modifier
      RelColumn(name, OidNames.getOrElse(oid, s"oid$oid"), (flags & 1) == 1)
    }

  /** Parse a single Relation ('R') message standalone — the driver-side
    * registry harvest for long-running streams, where a Relation seen in
    * batch N must type tuples arriving in batch N+k (the reference keeps
    * the relation map in its connection process state,
    * replication_connection.ex:384-404). */
  def parseRelation(bytes: Array[Byte]): Option[RelationMeta] = {
    val r = new Reader(bytes)
    if (r.i8().toChar != 'R') None
    else {
      val id = r.i32()
      val ns = r.cstring(); val name = r.cstring()
      val ident = r.i8().toChar.toString
      Some(RelationMeta(id, ns, name, ident, decodeColumns(r, r.i16())))
    }
  }

  /** Spark schema for a decoded relation (filter typing in the multi-table
    * matcher; text map values cast to these types before comparison). */
  def sparkSchema(meta: RelationMeta): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(meta.columns.map { c =>
      val dt: DataType = c.typeName match {
        case "bool" => BooleanType
        case "int2" => ShortType
        case "int4" => IntegerType
        case "int8" => LongType
        case "float4" => FloatType
        case "float8" => DoubleType
        case "numeric" => DecimalType(38, 18)
        case "timestamp" | "timestamptz" => StringType // ISO text form
        case _ => StringType
      }
      StructField(c.name, dt)
    })
  }

  /** Sequentially decode an ordered iterator of (seq, messageBytes),
    * maintaining the relation registry and the open-transaction state —
    * the partition-local kernel. `initial` seeds the registry with
    * relations learned in earlier batches of a long-running stream.
    * TRUNCATE fans out to one record per truncated relation, like the
    * reference's per-table TruncatedRelation (changes.ex:61-64). */
  def decodeIterator(msgs: Iterator[(Long, Array[Byte])],
      initial: Map[Int, RelationMeta] = Map.empty)
      : Iterator[WalChange] = {
    val registry = mutable.Map.empty[Int, RelationMeta] ++ initial
    var txLsn = 0L
    var txXid = 0L
    var txTs = ""
    // protocol v2 streamed-transaction state: the open chunk's xid (-1
    // outside a chunk) and the per-xid buffer of not-yet-committed
    // changes. Buffer size is one in-flight transaction's changes — the
    // same working set the reference's poller would hold for the batch.
    var streamXid = -1L
    val pending = mutable.Map.empty[Long, mutable.ArrayBuffer[WalChange]]
    def rel(id: Int): Option[RelationMeta] = registry.get(id)
    msgs.flatMap { case (seq, bytes) =>
      val r = new Reader(bytes)
      val unsupported = Seq(
        WalChange(seq, txLsn, txXid, "UNSUPPORTED", null, null, txTs,
          null, null, Nil))
      val tag = r.i8().toChar
      // inside a streamed chunk every data message carries its xid
      // between tag and payload — consume it so the payload parses
      val chunkXid =
        if (streamXid >= 0 && "RYIUDTM".contains(tag)) r.i32().toLong
        else -1L
      val out: Seq[WalChange] = tag match {
        case 'S' =>
          streamXid = r.i32().toLong; r.i8() // first-segment flag
          Nil
        case 'E' =>
          streamXid = -1L
          Nil
        case 'c' =>
          val xid = r.i32().toLong; r.i8()
          val lsn = r.i64(); r.i64()
          val ts = isoFromPgMicros(r.i64())
          // the buffered changes APPLY at commit: re-stamp with the
          // commit's lsn/timestamp (their seq keeps the arrival order
          // within the transaction; emission position = apply order)
          val rows = pending.remove(xid).map(_.toSeq).getOrElse(Nil)
            .map(c => c.copy(lsn = lsn, commit_timestamp = ts))
          rows :+ WalChange(seq, lsn, xid, "COMMIT", null, null, ts,
            null, null, Nil)
        case 'A' =>
          val xid = r.i32().toLong; r.i32() // sub-xid
          pending.remove(xid) // discard — aborted work never applies
          Seq(WalChange(seq, txLsn, xid, "STREAM_ABORT", null, null, txTs,
            null, null, Nil))
        case other => other match {
        case 'B' =>
          txLsn = r.i64(); txTs = isoFromPgMicros(r.i64()); txXid = r.i32().toLong
          Seq(WalChange(seq, txLsn, txXid, "BEGIN", null, null, txTs, null, null, Nil))
        case 'C' =>
          r.i8(); val lsn = r.i64(); r.i64()
          val ts = isoFromPgMicros(r.i64())
          Seq(WalChange(seq, lsn, txXid, "COMMIT", null, null, ts, null, null, Nil))
        case 'O' =>
          val lsn = r.i64()
          Seq(WalChange(seq, lsn, txXid, "ORIGIN", null, r.cstring(), txTs, null, null, Nil))
        case 'R' =>
          val id = r.i32()
          val ns = r.cstring(); val name = r.cstring()
          val ident = r.i8().toChar.toString
          val cols = decodeColumns(r, r.i16())
          registry(id) = RelationMeta(id, ns, name, ident, cols)
          Seq(WalChange(seq, txLsn, txXid, "RELATION", ns, name, txTs,
            cols.map(c => c.name -> c.typeName).toMap, null, Nil))
        case 'Y' =>
          r.i32()
          Seq(WalChange(seq, txLsn, txXid, "TYPE", r.cstring(), r.cstring(), txTs,
            null, null, Nil))
        case 'M' =>
          // logical decoding message (pg_logical_emit_message): content
          // surfaces in `record` so downstream filters/sinks see it as
          // a typed row, not an opaque skip
          val transactional = r.i8() == 1
          val lsn = r.i64()
          val prefix = r.cstring()
          val content = r.take(r.i32())
          Seq(WalChange(seq, lsn, txXid, "MESSAGE", null, null, txTs,
            Map("prefix" -> prefix,
              "content" -> new String(content, UTF_8),
              "transactional" -> transactional.toString), null, Nil))
        case 'I' =>
          val relId = r.i32()
          rel(relId) match {
            case Some(m) =>
              r.i8() // 'N'
              val (rec, toast) = decodeTuple(r, m.columns)
              Seq(WalChange(seq, txLsn, txXid, "INSERT", m.namespace, m.name,
                txTs, rec, null, toast))
            case None => unsupported // unknown relation (decoder.ex:219)
          }
        case 'U' =>
          val relId = r.i32()
          rel(relId) match {
            case Some(m) =>
              var old: Map[String, String] = null
              var kind = r.i8().toChar
              if (kind == 'K' || kind == 'O') {
                old = decodeTuple(r, m.columns)._1
                kind = r.i8().toChar
              }
              // kind == 'N'
              val (rec, toast) = decodeTuple(r, m.columns)
              Seq(WalChange(seq, txLsn, txXid, "UPDATE", m.namespace, m.name,
                txTs, rec, old, toast))
            case None => unsupported
          }
        case 'D' =>
          val relId = r.i32()
          rel(relId) match {
            case Some(m) =>
              r.i8() // 'K' | 'O'
              val (old, _) = decodeTuple(r, m.columns)
              Seq(WalChange(seq, txLsn, txXid, "DELETE", m.namespace, m.name,
                txTs, null, old, Nil))
            case None => unsupported
          }
        case 'T' =>
          val n = r.i32(); r.i8()
          val ids = (0 until n).map(_ => r.i32())
          val known = ids.flatMap(rel(_))
          if (known.isEmpty) unsupported
          else known.map(m =>
            WalChange(seq, txLsn, txXid, "TRUNCATE", m.namespace, m.name,
              txTs, null, null, Nil))
        case _ => unsupported
        }
      }
      if (chunkXid >= 0) {
        // streamed data: hold until Stream Commit (or drop on Abort);
        // the xid is stamped now, lsn/timestamp at commit
        pending.getOrElseUpdate(chunkXid, mutable.ArrayBuffer.empty) ++=
          out.map(_.copy(xid = chunkXid))
        Nil
      } else out
    }
  }

  /** DataFrame-level decode: `df` must carry `bytesCol` (binary) and
    * `orderCol` (the WAL order within a partition — lsn or arrival seq).
    * Narrow: sorts within partitions, then one mapPartitions pass with a
    * partition-local registry. */
  def decodeChanges(df: DataFrame, bytesCol: String, orderCol: String,
      initial: Map[Int, RelationMeta] = Map.empty)
      : Dataset[WalChange] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(orderCol).cast("long").as("_seq"), col(bytesCol).as("_msg"))
      .sortWithinPartitions("_seq")
      .as[(Long, Array[Byte])]
      .mapPartitions(it => decodeIterator(it, initial))
  }

  /** The binary pgoutput [[WalFormat]]: `bytesCol` carries one protocol
    * message, `orderCol` its WAL order. `relations` is the cross-batch
    * relation registry (driver state, like the reference's replication
    * connection process), seeded with `initialRegistry` — relations
    * learned before the stream attached. */
  final class Format(bytesCol: String, orderCol: String,
      initialRegistry: Map[Int, RelationMeta] = Map.empty) extends WalFormat {
    val relations: mutable.Map[Int, RelationMeta] =
      mutable.Map.empty[Int, RelationMeta] ++ initialRegistry

    def decode(batch: DataFrame): WalFormat.Decoded = {
      // Relation harvest: R messages are rare (one per table per
      // connection, plus schema changes) — a driver collect of just those
      // bytes is the small-dimension update, not a data-path collect. The
      // batch row count rides the SAME aggregate (collect_list skips the
      // non-R nulls), so harvest + count is one job, not two — per-batch
      // job scheduling, not compute, is the knee cost at high rates.
      // Ordering discipline: harvested R messages are applied in WAL (seq)
      // order, never collect()/partition order. The decode below is seeded
      // with the batch-START registry plus only the EARLIEST R per relation
      // from this batch — later (schema-changing) R messages reach tuples
      // through decodeIterator's in-stream, in-order application, so a tuple
      // preceding a mid-batch schema change is decoded against the schema
      // that was current at its position, not the newest one. (Residual
      // caveat, documented: a tuple in partition A that follows — by seq —
      // a schema-change R that landed in partition B still sees the older
      // schema; on real slots Relation messages are re-sent per chunk, so
      // partition-local streams carry their own R messages.)
      val aggRow = batch.agg(
          count(lit(1)).as("_n"),
          collect_list(
            when(substring(col(bytesCol), 1, 1) === lit("R".getBytes(UTF_8)),
              struct(col(orderCol).cast("long").as("seq"),
                col(bytesCol).as("b")))).as("_rels"))
        .collect()(0)
      val harvested = aggRow.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        .sortBy(_._1)
        .flatMap { case (_, b) => parseRelation(b) }
      // first sighting seeds ONLY relations unknown at batch start — a
      // known relation's mid-batch R must reach earlier tuples through
      // in-stream order, not by pre-seeding (that would decode them
      // against the future schema)
      val seedFirst = mutable.Map[Int, RelationMeta]()
      harvested.foreach(m =>
        if (!relations.contains(m.id) && !seedFirst.contains(m.id))
          seedFirst(m.id) = m)
      val decodeSeed = relations.toMap ++ seedFirst
      // the cross-batch registry advances to the LATEST R per relation (in
      // seq order) so the NEXT batch starts from this batch's final schemas
      harvested.foreach(m => relations(m.id) = m)
      // decode against the batch-start snapshot (+ first sightings)
      WalFormat.Decoded(decodeChanges(batch, bytesCol, orderCol, decodeSeed),
        aggRow.getLong(0),
        relations.values.map(m => (m.namespace, m.name) ->
          (sparkSchema(m), m.columns.filter(_.isKey).map(_.name))).toMap)
    }
  }
}
