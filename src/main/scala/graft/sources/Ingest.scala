package graft.sources

import java.io.{BufferedInputStream, FileInputStream, InputStream}
import java.security.MessageDigest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Ingest-side utilities mirroring the reference's download/verify layer
  * (SURVEY.md §2.A2/A3, §2.B7, §2.D4). Downloading itself is delegated to
  * whatever moves bytes near the cluster (distcp, S3 replication, a plain
  * HTTP fetch); these are the pure pieces the pipeline logic needs.
  */
object Ingest {

  /** URL -> entity type by substring match (reference utils.py:64-68:
    * first DISCOGS_CONFIGS key contained in the URL). */
  def detectDataType(url: String): Option[String] =
    Seq("artists" -> "artist", "labels" -> "label",
      "masters" -> "master", "releases" -> "release")
      .collectFirst { case (k, v) if url.contains(k) => v }

  /** Gzip magic-byte sniff (utils.py:60-61). */
  def isGzip(head: Array[Byte]): Boolean =
    head.length >= 2 && head(0) == 0x1f.toByte && head(1) == 0x8b.toByte

  /** Streaming file digest (process.py:117-127): constant memory, one
    * pass. `algo` in sha-256 / sha-1 / md5 / sha-512 (JCE names). */
  def checksumFile(path: String, algo: String = "SHA-256"): String =
    digest(new FileInputStream(path), algo)

  private def digest(stream: InputStream, algo: String): String = {
    val md = MessageDigest.getInstance(algo)
    val in = new BufferedInputStream(stream, 64 * 1024)
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Case-insensitive checksum compare (process.py:164-169, io.py:375).
    * The file is read through the Hadoop FileSystem of `url`'s scheme, so
    * `file:/`, `hdfs:/` and `s3a:/` URLs verify like plain local paths. */
  def verifyChecksum(url: String, expected: String, algo: String = "SHA-256",
      conf: Configuration = new Configuration()): Boolean =
    expected.nonEmpty && {
      val p = new Path(url)
      digest(p.getFileSystem(conf).open(p), algo).equalsIgnoreCase(expected.trim)
    }

  /** Lenient gzip decompress (process.py:47-64 `lenient_gzip_decompress`):
    * salvage every byte that inflates cleanly, tolerating a corrupt CRC
    * trailer or a truncated stream — a damaged dump yields its intact
    * prefix records instead of aborting the whole scan. Returns
    * (bytesWritten, cleanEof): cleanEof=false means the tail was lost.
    */
  def lenientGunzip(inPath: String, outPath: String,
      bufSize: Int = 64 * 1024): (Long, Boolean) = {
    val in = new java.util.zip.GZIPInputStream(
      new BufferedInputStream(new FileInputStream(inPath), bufSize))
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(outPath), bufSize)
    var written = 0L
    var clean = true
    try {
      val buf = new Array[Byte](bufSize)
      try {
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); written += n; n = in.read(buf) }
      } catch {
        // EOFException (truncated member) or ZipException (CRC/length
        // trailer mismatch): keep what inflated, flag the loss.
        case _: java.io.IOException => clean = false
      }
    } finally {
      try in.close() catch { case _: Exception => () }
      out.close()
    }
    (written, clean)
  }

  /** Pre-split a gzipped XML dump into RECORD-ALIGNED plain-text block
    * files, so the expensive parse parallelizes (SURVEY §7 known-hard
    * #6). Gzip is not splittable: one `.xml.gz` dump otherwise pins the
    * whole scan to a single task no matter how many executors exist.
    * The decompress is inherently sequential, so we pay it ONCE here —
    * a driver/edge-node pass in the same cost class as the reference's
    * sequential download+decompress — and cut the stream at
    * `</recordEndTag>` boundaries into ~blockBytes files. Every block
    * holds whole records (the cut is after the LAST closing tag in the
    * buffered window), so the record-recovering lineSep scan reads the
    * block directory with one task per block minimum (maxPartitionBytes
    * then splits further within blocks — they are plain text), and
    * wrapper junk at the head/tail of blocks is dropped by the same
    * rowTag matcher that drops it on a whole-file scan. At the lake,
    * this runs per dump file as it lands; the parse stage downstream is
    * then embarrassingly parallel.
    *
    * Returns the block paths written (in stream order). IngestSpec pins
    * split-vs-whole equivalence; IngestBench reports the parallel
    * ingest throughput over the blocks. */
  def preSplitGz(inPath: String, outDir: String, recordEndTag: String,
      blockBytes: Long = 64L * 1024 * 1024, bufSize: Int = 256 * 1024): Seq[String] = {
    // The window buffers one block (plus a read) on heap; a runaway
    // target would pre-allocate it all. 1 GiB also keeps the doubling
    // growth path (oversized single records) inside Int array limits.
    require(blockBytes >= 1 && blockBytes <= (1L << 30),
      s"blockBytes must be in [1, 1 GiB], got $blockBytes")
    val endBytes = s"</$recordEndTag>".getBytes("UTF-8")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val in = new java.util.zip.GZIPInputStream(
      new BufferedInputStream(new FileInputStream(inPath), bufSize))
    val paths = Seq.newBuilder[String]
    var blockIdx = 0
    // Growable window of not-yet-emitted bytes. Each flush scans it
    // once from the END for the last record boundary — O(window) per
    // block, and the window never exceeds blockBytes + one read unless
    // a single record does.
    var win = new Array[Byte](math.min(blockBytes + bufSize, Int.MaxValue.toLong).toInt)
    var winLen = 0
    def lastBoundary(): Int = { // index AFTER the closing tag, or -1
      var i = winLen - endBytes.length
      while (i >= 0) {
        var j = 0
        while (j < endBytes.length && win(i + j) == endBytes(j)) j += 1
        if (j == endBytes.length) return i + endBytes.length
        i -= 1
      }
      -1
    }
    def writeBlock(until: Int): Unit = {
      val p = f"$outDir/block-$blockIdx%05d.xml"
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p), bufSize)
      try out.write(win, 0, until) finally out.close()
      paths += p
      blockIdx += 1
      System.arraycopy(win, until, win, 0, winLen - until)
      winLen -= until
    }
    try {
      val buf = new Array[Byte](bufSize)
      var n = in.read(buf)
      while (n > 0) {
        if (winLen + n > win.length) {
          val grown = new Array[Byte](math.max(win.length * 2, winLen + n))
          System.arraycopy(win, 0, grown, 0, winLen)
          win = grown
        }
        System.arraycopy(buf, 0, win, winLen, n)
        winLen += n
        if (winLen >= blockBytes) {
          val cut = lastBoundary()
          if (cut > 0) writeBlock(cut)
          // no boundary yet: an oversized record — keep growing until
          // its closing tag arrives; correctness over block-size vanity.
        }
        n = in.read(buf)
      }
      if (winLen > 0) writeBlock(winLen) // trailer (+ any tail records)
    } finally in.close()
    paths.result()
  }

  /** Ranged-download chunk plan (io.py:219-236): split `totalSize` into
    * `maxWorkers*4` target chunks, clamped to [minChunk, chunkSize];
    * returns inclusive byte ranges for `Range:` headers. Pure math — the
    * transport (java.net.http / S3A ranged GETs) plugs in around it. */
  def splitChunks(totalSize: Long, maxWorkers: Int = 8,
      chunkSize: Long = 8L * 1024 * 1024,
      minChunk: Long = 1L * 1024 * 1024): Seq[(Long, Long)] = {
    require(totalSize >= 0)
    if (totalSize == 0) return Seq.empty
    val target = math.max(1L, totalSize / math.max(1, maxWorkers * 4))
    val size = math.min(chunkSize, math.max(minChunk, target))
    (0L until totalSize by size).map(start =>
      (start, math.min(start + size, totalSize) - 1))
  }
}
