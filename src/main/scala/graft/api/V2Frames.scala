package graft.api

import java.nio.charset.StandardCharsets.UTF_8

/** Binary client-frame codec (S9) — the reference's custom V2 socket
  * serializer (/root/reference/lib/realtime_web/socket/v2_serializer.ex),
  * a superset of Phoenix's V2 with user-broadcast opcodes. Wire format is
  * length-prefixed with single-byte sizes (every prefixed field is capped
  * at 255 bytes, v2_serializer.ex:216-227); the payload is the untouched
  * tail — it stays an opaque `binary` column end-to-end in this engine.
  *
  * Opcodes and layouts (v2_serializer.ex:9-14):
  *  - 0 push      out: op, jr_len, t_len, e_len, jr, topic, event, data
  *                 in:  op, jr_len, r_len, t_len, e_len, jr, ref, topic,
  *                      event, data (inbound pushes carry a ref,
  *                      :159-177)
  *  - 1 reply     op, jr_len, r_len, t_len, s_len, jr, ref, topic,
  *                status, data (:74-99)
  *  - 2 broadcast op, t_len, e_len, topic, event, data (:48-62)
  *  - 3 user_broadcast_push  op, jr_len, r_len, t_len, ue_len, m_len,
  *                enc, jr, ref, topic, user_event, metadata, payload
  *                (:179-213)
  *  - 4 user_broadcast  op, t_len, ue_len, m_len, enc, topic,
  *                user_event, metadata, payload (:19-46)
  *
  * `enc` is 1 for JSON payloads, 0 for raw binary. A zero-length
  * metadata field decodes as `"{}"` (the reference substitutes an empty
  * map, :196-201). The reference server only decodes opcodes 0 and 3
  * (client→server) and encodes 1/2/4 (server→client); this codec handles
  * all five so either edge of the pipe can be modeled.
  *
  * Scale shape: decode is a narrow typed `map` over the byte column
  * (like [[graft.cdc.PgOutput]]) — no state, no shuffle; frames are
  * self-delimiting so any partitioning of the stream works.
  */
object V2Frames {

  val Push = 0
  val Reply = 1
  val Broadcast = 2
  val UserBroadcastPush = 3
  val UserBroadcast = 4

  /** One decoded frame; fields not present for an opcode are null. */
  final case class Frame(
      opcode: Int,
      join_ref: String,
      ref: String,
      topic: String,
      event: String,
      status: String,
      metadata: String,
      payload_is_json: Boolean,
      payload: Array[Byte])

  /** Uppercase hex of a byte array — frame-byte pinning for oracles
    * (matches both Spark's and DuckDB's `hex()` casing). */
  def hexUpper(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach { x =>
      sb.append(java.lang.Character.forDigit((x >> 4) & 0xf, 16).toUpper)
      sb.append(java.lang.Character.forDigit(x & 0xf, 16).toUpper)
    }
    sb.toString
  }

  private def sized(s: String, kind: String): Array[Byte] = {
    if (s == null) Array.emptyByteArray
    else {
      val b = s.getBytes(UTF_8)
      // same cap and error shape as byte_size!/3 (v2_serializer.ex:216-227)
      require(b.length <= 255, s"$kind size ${b.length} exceeds 255 bytes")
      b
    }
  }

  private def frame(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(parts.map(_.length).sum)
    parts.foreach(out.write)
    out.toByteArray
  }

  def encodePush(joinRef: String, topic: String, event: String,
      payload: Array[Byte]): Array[Byte] = {
    val (jr, t, e) = (sized(joinRef, "join_ref"), sized(topic, "topic"),
      sized(event, "event"))
    frame(Array(Push.toByte, jr.length.toByte, t.length.toByte,
      e.length.toByte), jr, t, e, payload)
  }

  def encodeReply(joinRef: String, ref: String, topic: String,
      status: String, payload: Array[Byte]): Array[Byte] = {
    val (jr, r, t, s) = (sized(joinRef, "join_ref"), sized(ref, "ref"),
      sized(topic, "topic"), sized(status, "status"))
    frame(Array(Reply.toByte, jr.length.toByte, r.length.toByte,
      t.length.toByte, s.length.toByte), jr, r, t, s, payload)
  }

  def encodeBroadcast(topic: String, event: String,
      payload: Array[Byte]): Array[Byte] = {
    val (t, e) = (sized(topic, "topic"), sized(event, "event"))
    frame(Array(Broadcast.toByte, t.length.toByte, e.length.toByte),
      t, e, payload)
  }

  def encodeUserBroadcastPush(joinRef: String, ref: String, topic: String,
      userEvent: String, metadata: Option[String], payloadIsJson: Boolean,
      payload: Array[Byte]): Array[Byte] = {
    val (jr, r, t, ue) = (sized(joinRef, "join_ref"), sized(ref, "ref"),
      sized(topic, "topic"), sized(userEvent, "user_event"))
    val m = sized(metadata.orNull, "metadata")
    frame(Array(UserBroadcastPush.toByte, jr.length.toByte, r.length.toByte,
      t.length.toByte, ue.length.toByte, m.length.toByte,
      (if (payloadIsJson) 1 else 0).toByte), jr, r, t, ue, m, payload)
  }

  def encodeUserBroadcast(topic: String, userEvent: String,
      metadata: Option[String], payloadIsJson: Boolean,
      payload: Array[Byte]): Array[Byte] = {
    val (t, ue) = (sized(topic, "topic"), sized(userEvent, "user_event"))
    val m = sized(metadata.orNull, "metadata")
    frame(Array(UserBroadcast.toByte, t.length.toByte, ue.length.toByte,
      m.length.toByte, (if (payloadIsJson) 1 else 0).toByte),
      t, ue, m, payload)
  }

  /** Decode one frame. `inbound` selects the client→server push layout
    * (with ref) for opcode 0, like the reference's decode_binary.
    *
    * A truncated or corrupt frame (header bytes or a sized field running
    * past the buffer) throws `IllegalArgumentException("truncated V2
    * frame …")` — the analog of the reference's binary-pattern match
    * failing to match — never an index-out-of-bounds from inside the
    * cursor. Zero-length metadata decodes to `"{}"`: the reference
    * substitutes an empty map when metadata_size is 0
    * (v2_serializer.ex:196-201), and absent-vs-empty is not
    * distinguishable on the wire. */
  def decode(bytes: Array[Byte], inbound: Boolean = false): Frame = {
    var pos = 0
    def need(n: Int, what: String): Unit =
      if (pos + n > bytes.length)
        throw new IllegalArgumentException(
          s"truncated V2 frame: need $n byte(s) for $what at offset $pos, " +
            s"have ${bytes.length - pos}")
    def u8(what: String): Int = {
      need(1, what); val v = bytes(pos) & 0xff; pos += 1; v
    }
    def str(n: Int, what: String): String = {
      need(n, what); val s = new String(bytes, pos, n, UTF_8); pos += n; s
    }
    def tail(): Array[Byte] = java.util.Arrays.copyOfRange(bytes, pos, bytes.length)
    u8("opcode") match {
      case Push if inbound =>
        val (jl, rl, tl, el) =
          (u8("join_ref_size"), u8("ref_size"), u8("topic_size"), u8("event_size"))
        Frame(Push, str(jl, "join_ref"), str(rl, "ref"), str(tl, "topic"),
          str(el, "event"), null, null, payload_is_json = false, tail())
      case Push =>
        val (jl, tl, el) = (u8("join_ref_size"), u8("topic_size"), u8("event_size"))
        Frame(Push, str(jl, "join_ref"), null, str(tl, "topic"),
          str(el, "event"), null, null, payload_is_json = false, tail())
      case Reply =>
        val (jl, rl, tl, sl) =
          (u8("join_ref_size"), u8("ref_size"), u8("topic_size"), u8("status_size"))
        Frame(Reply, str(jl, "join_ref"), str(rl, "ref"), str(tl, "topic"),
          null, str(sl, "status"), null, payload_is_json = false, tail())
      case Broadcast =>
        val (tl, el) = (u8("topic_size"), u8("event_size"))
        Frame(Broadcast, null, null, str(tl, "topic"), str(el, "event"),
          null, null, payload_is_json = false, tail())
      case UserBroadcastPush =>
        val (jl, rl, tl, uel, ml) = (u8("join_ref_size"), u8("ref_size"),
          u8("topic_size"), u8("user_event_size"), u8("metadata_size"))
        val enc = u8("encoding") == 1
        Frame(UserBroadcastPush, str(jl, "join_ref"), str(rl, "ref"),
          str(tl, "topic"), str(uel, "user_event"), null,
          if (ml == 0) "{}" else str(ml, "metadata"), enc, tail())
      case UserBroadcast =>
        val (tl, uel, ml) =
          (u8("topic_size"), u8("user_event_size"), u8("metadata_size"))
        val enc = u8("encoding") == 1
        Frame(UserBroadcast, null, null, str(tl, "topic"),
          str(uel, "user_event"), null,
          if (ml == 0) "{}" else str(ml, "metadata"), enc, tail())
      case other =>
        throw new IllegalArgumentException(s"unknown V2 opcode: $other")
    }
  }
}
