package graft.sources.native

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}

import graft.sources.native.NativeCodec.{Input, Output}

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

/**
 * Streaming block reader for the ClickHouse Native file format
 * (SURVEY §1.1):
 *
 * block := n_columns:VarUInt, n_rows:VarUInt,
 *          per column: name:String, type:String, values[n_rows]
 *
 * A file is a sequence of blocks; a zero-row block or clean EOF
 * terminates (reference src/lib.rs:213-235, terminator at :222).
 *
 * Unlike the reference — which parses the FIRST block with correct
 * per-column (name,type,data) interleaving (src/lib.rs:201-211) but
 * subsequent blocks with all headers first then all data
 * (src/lib.rs:226-234), misparsing any multi-column multi-block file —
 * every block here uses the correct interleaving. And unlike the
 * reference's eager whole-file materialization at both bind AND init
 * (src/lib.rs:251, :271-274), this is a pull-based iterator: one block
 * in memory at a time, which is what lets a 100 TB scan stream.
 *
 * Each block decodes straight into Spark column vectors
 * ([[ColumnCodec.decode]]) through [[NativeBlockReader.readBody]], the
 * block-body parser native-TCP Data packets share.
 *
 * @param projection column names to materialize (None = all). Pruned
 *                   columns are skip-decoded (ColumnCodec.skip) — the
 *                   format is column-contiguous within a block, so
 *                   fixed-width columns cost a single seek.
 * @param blockLimit stop after this many blocks (-1 = until EOF) —
 *                   how an intra-file split partition ([[NativeIndex]])
 *                   reads exactly its block range after seeking.
 */
final class NativeBlockReader(stream: InputStream, projection: Option[Set[String]] = None,
    blockLimit: Int = -1)
    extends Iterator[DecodedBlock] with BlockSource {

  private val in = new Input(if (stream.isInstanceOf[BufferedInputStream]) stream
    else new BufferedInputStream(stream, 64 * 1024))
  private var pending: DecodedBlock = _
  private var blocksRead = 0
  private var finished = false

  override def hasNext: Boolean = {
    if (finished) return false
    if (pending != null) return true
    if (blockLimit >= 0 && blocksRead >= blockLimit) { finished = true; close(); return false }
    readBlock() match {
      case Some(b) => pending = b; true
      case None => finished = true; close(); false
    }
  }

  override def next(): DecodedBlock = {
    if (!hasNext) throw new NoSuchElementException
    val b = pending
    pending = null
    b
  }

  override def nextBlock(): Option[DecodedBlock] = if (hasNext) Some(next()) else None

  private def readBlock(): Option[DecodedBlock] =
    in.tryReadVarUInt() match {
      case None => None // clean EOF between blocks
      case Some(nCols) =>
        val b = NativeBlockReader.readBody(in, nCols, projection)
        if (nCols == 0 || b.numRows == 0) None // zero-row terminator (src/lib.rs:222)
        else { blocksRead += 1; Some(b) }
    }

  override def close(): Unit = stream.close()
}

/** A stream of decoded Native blocks, however carried: a file or socket
  * byte stream, or the Data packets of a native-TCP session. */
trait BlockSource extends AutoCloseable {
  /** The next block (zero-row tcp header blocks included), or None at the end. */
  def nextBlock(): Option[DecodedBlock]
}

object NativeBlockReader {
  // Plausibility caps on a block header's counts. Real servers cap
  // blocks at max_block_size (default 65536; practical ceilings are low
  // millions even with huge settings) — 100M rows is ~1500× the default
  // and far beyond anything a server or our writer emits, mirroring the
  // 64 MB frame cap on the compressed path. The decoder allocates
  // O(rows) per column before the payload arrives, so a hostile 2^31-row
  // header must fail here, not as an allocation OOM.
  private val MaxColumns = 1000000L
  private val MaxRows = 100000000L

  /**
   * The one block-body parser: Native file scans, schema probes and
   * native-TCP Data packets all call it. `nCols` is the block's column
   * count, already read by the caller (a file detects clean EOF on it;
   * tcp reads BlockInfo before it). Reads the row count, rejects either
   * count above its cap BEFORE narrowing it to Int (a count of 2^32+5
   * must not wrap to 5), then each column's name and type. Projected
   * columns decode into vectors; the rest are skip-decoded. With
   * `lastValues = false` the final column's values stay unread — a
   * header probe needs no data.
   */
  def readBody(in: Input, nCols: Long, projection: Option[Set[String]],
      lastValues: Boolean = true): DecodedBlock = {
    if (nCols < 0 || nCols > MaxColumns)
      throw new IOException(s"implausible column count $nCols in Native block")
    val nRows = in.readVarUInt()
    if (nRows < 0 || nRows > MaxRows)
      throw new IOException(s"implausible row count $nRows in Native block")
    val rows = nRows.toInt
    val header = Seq.newBuilder[(String, ChType)]
    val cols = Array.newBuilder[NativeColumn]
    var c = 0
    while (c < nCols) {
      val name = in.readString()
      val t = ChType.parse(in.readString())
      header += name -> t
      if (projection.forall(_.contains(name))) {
        val v = new OnHeapColumnVector(rows, t.sparkType)
        ColumnCodec.decode(in, t, rows, v)
        cols += NativeColumn(name, t, v)
      } else if (lastValues || c < nCols - 1) {
        try ColumnCodec.skip(in, t, rows)
        catch {
          case e: UnsupportedColumnException =>
            // A column of unknowable byte width makes the remaining
            // columns unreachable — fail with the column named instead
            // of a bare type error (the reference instead silently
            // misparses, src/lib.rs:168-170).
            throw new IOException(
              s"cannot skip column '$name' of unsupported type ${e.typeName}; " +
                "remaining columns unreadable", e)
        }
      }
      c += 1
    }
    DecodedBlock(header.result(), cols.result(), rows)
  }

  /**
   * Read just the first block's per-column (name, type) headers —
   * bind-time schema inference without materializing data
   * (vs the reference's full-file parse at bind, src/lib.rs:246-266).
   */
  def readHeader(stream: InputStream): Seq[(String, ChType)] = {
    val in = new Input(new BufferedInputStream(stream, 8 * 1024))
    in.tryReadVarUInt() match {
      case None => Seq.empty
      case Some(nCols) => readBody(in, nCols, Some(Set.empty), lastValues = false).header
    }
  }
}

/**
 * Streaming block writer — the inverse, for fixtures and the sink path:
 * each column's vector encodes through [[ColumnCodec.encode]].
 *
 * With `compression` = lz4|zstd the native byte stream is wrapped in
 * ClickHouse compressed frames ([[NativeCompression]]); [[position]]
 * additionally ends the current frame, so every offset handed to the
 * [[NativeIndex]] sidecar is a frame boundary — a valid seek target on
 * the compressed file.
 */
final class NativeBlockWriter(stream: OutputStream, compression: String = "none")
    extends AutoCloseable {
  private val counting = new CountingOutputStream(stream)
  private val frames: FrameOutputStream = compression.toLowerCase match {
    case "none" | "" => null
    case c => new FrameOutputStream(counting, NativeCompression.methodFor(c))
  }
  private val out = new Output(new BufferedOutputStream(
    if (frames == null) counting else frames, 64 * 1024))

  /**
   * Byte offset the NEXT write lands at (flushes the buffer — call
   * once per block, not per value). Lets the data writer record block
   * offsets for the [[NativeIndex]] sidecar.
   */
  def position: Long = {
    out.flush()
    if (frames != null) frames.endFrame()
    counting.count
  }

  def writeBlock(block: NativeBlock): Unit = {
    out.writeVarUInt(block.columns.length.toLong)
    out.writeVarUInt(block.numRows.toLong)
    block.columns.foreach { col =>
      out.writeString(col.name)
      out.writeString(col.chType.name)
      ColumnCodec.encode(out, col.chType, col.vector, block.numRows)
    }
  }

  override def close(): Unit = {
    out.flush()
    if (frames != null) frames.endFrame()
    stream.close()
  }
}
