package cdcbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.CRC32

/** The benchmark's own MySQL binlog (v4, row-based) writer.
  *
  * It is written from the MySQL binlog format, not from graft's
  * `BinlogGen`, so the parser is checked against an independent
  * encoder. Every file holds one table, `gen.gen (id INT, title
  * VARCHAR(160))`: FORMAT_DESCRIPTION (CRC32 checksums on, as MySQL 8
  * writes by default), then per transaction TABLE_MAP, one or more
  * WRITE/UPDATE/DELETE_ROWS_V2 events and an XID, and a ROTATE event
  * naming the next file when there is one.
  */
object BinlogWriter {

  private val Schema = "gen"
  private val Table = "gen"
  private val TableId = 4242L
  private val ServerId = 7
  private val Magic = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  /** One row change. `before` / `after` are titles; the id is `key`. */
  sealed trait Change { def key: Int }
  final case class Insert(key: Int, after: String) extends Change
  final case class Update(key: Int, before: String, after: String) extends Change
  final case class Delete(key: Int, before: String) extends Change

  /** A transaction: consecutive changes of one kind share a rows event
    * (at most `rowsPerEvent` rows each). A key must not appear twice in
    * one rows event: rows of an event share its `log_pos`.
    */
  final case class Txn(changes: Seq[Change])

  /** What a file holds: its size, the `log_pos` of its last rows event
    * (the position a replica commits for it) and its event counts.
    */
  final case class Written(bytes: Long, lastRowsPos: Long,
      events: Long, inserts: Long, updates: Long, deletes: Long)

  /** Write `txns` to `path`. `next` names the file this one rotates to. */
  def write(path: Path, txns: Seq[Txn], next: Option[String],
      ts: Long, rowsPerEvent: Int = 200): Written = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    var pos = 4L
    var events = 0L
    var lastRows = 0L
    var (ins, upd, del) = (0L, 0L, 0L)
    def emit(eventType: Int, body: Array[Byte]): Unit = {
      val size = 19 + body.length + 4
      val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(ts.toInt).put(eventType.toByte).putInt(ServerId)
        .putInt(size).putInt((pos + size).toInt).putShort(0.toShort)
      val crc = new CRC32()
      crc.update(h.array()); crc.update(body)
      val c = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(crc.getValue.toInt)
      out.write(h.array()); out.write(body); out.write(c.array())
      pos += size
      events += 1
    }
    try {
      out.write(Magic)
      emit(0x0f, formatDescription())
      var xid = 1L
      txns.foreach { t =>
        emit(0x13, tableMap())
        groups(t.changes, rowsPerEvent).foreach { g =>
          val (et, images) = g.head match {
            case _: Insert => ins += g.size
              (0x1e, g.map { case Insert(k, a) => row(k, a) })
            case _: Update => upd += g.size
              (0x1f, g.flatMap { case Update(k, b, a) => Seq(row(k, b), row(k, a)) })
            case _: Delete => del += g.size
              (0x20, g.map { case Delete(k, b) => row(k, b) })
          }
          emit(et, rowsBody(images, update = et == 0x1f))
          lastRows = pos
        }
        emit(0x10, ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(xid).array())
        xid += 1
      }
      next.foreach(n => emit(0x04, rotate(n)))
    } finally out.close()
    Written(pos, lastRows, events, ins, upd, del)
  }

  /** Publish a finished file into `dir` by rename: the streaming source
    * marks a file done once it has read it, so it must never see a
    * half-written one.
    */
  def publish(staged: Path, dir: Path): Path =
    Files.move(staged, dir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)

  def fileName(seq: Int): String = f"mysql-bin.$seq%06d"

  // consecutive same-kind changes, cut at rowsPerEvent
  private def groups(cs: Seq[Change], rowsPerEvent: Int): Seq[Seq[Change]] = {
    val out = Seq.newBuilder[Seq[Change]]
    var cur = Vector.empty[Change]
    cs.foreach { c =>
      if (cur.nonEmpty && (cur.head.getClass != c.getClass || cur.size == rowsPerEvent)) {
        out += cur; cur = Vector.empty
      }
      cur :+= c
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  private def formatDescription(): Array[Byte] = {
    val b = ByteBuffer.allocate(2 + 50 + 4 + 1 + 39 + 1).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(4.toShort)
    val v = "8.0.36-cdcbench".getBytes(UTF_8)
    b.put(v).put(new Array[Byte](50 - v.length))
    b.putInt(0).put(19.toByte)
    b.put(new Array[Byte](39)) // post-header lengths (not read back)
    b.put(1.toByte) // checksum algorithm: CRC32
    b.array()
  }

  private def tableMap(): Array[Byte] = {
    val s = Schema.getBytes(UTF_8); val t = Table.getBytes(UTF_8)
    val b = ByteBuffer.allocate(6 + 2 + 1 + s.length + 1 + 1 + t.length + 1 + 1 + 2 + 1 + 2 + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TableId); b.putShort(1.toShort)
    b.put(s.length.toByte).put(s).put(0.toByte)
    b.put(t.length.toByte).put(t).put(0.toByte)
    b.put(2.toByte).put(0x03.toByte).put(0x0f.toByte) // INT, VARCHAR
    b.put(2.toByte).putShort(160.toShort) // VARCHAR(160): 1-byte lengths
    b.put(0.toByte) // no nullable columns
    b.array()
  }

  private def row(id: Int, title: String): Array[Byte] = {
    val t = title.getBytes(UTF_8)
    require(t.length <= 160, s"title too long: $title")
    ByteBuffer.allocate(1 + 4 + 1 + t.length).order(ByteOrder.LITTLE_ENDIAN)
      .put(0.toByte).putInt(id).put(t.length.toByte).put(t).array()
  }

  private def rowsBody(images: Seq[Array[Byte]], update: Boolean): Array[Byte] = {
    val n = images.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + (if (update) 2 else 1) + n)
      .order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TableId); b.putShort(1.toShort) // flags: end of statement
    b.putShort(2.toShort) // extra-data length, itself only
    b.put(2.toByte).put(0x03.toByte) // 2 columns, both present
    if (update) b.put(0x03.toByte)
    images.foreach(b.put)
    b.array()
  }

  private def rotate(next: String): Array[Byte] = {
    val n = next.getBytes(UTF_8)
    ByteBuffer.allocate(8 + n.length).order(ByteOrder.LITTLE_ENDIAN).putLong(4L).put(n).array()
  }

  private def putU48(b: ByteBuffer, v: Long): Unit = {
    b.putInt((v & 0xffffffffL).toInt); b.putShort(((v >> 32) & 0xffff).toShort)
  }
}
