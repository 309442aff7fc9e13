package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hand-rolled image CONTAINER codecs — the still-image counterpart of the
  * mp4/ISO-BMFF walker in [[Multimodal]].
  *
  * x16/x17 already prove full JDK decode (javax.imageio); what a 100 TB
  * pipeline additionally needs is the cheap path: pull dimensions, color
  * layout, DPI, EXIF orientation and text metadata out of billions of
  * images WITHOUT paying for pixel decode. That is a container parse —
  * PNG chunk walk (CRC-validated), JPEG marker walk (entropy-scan aware),
  * TIFF/EXIF IFD walk — exactly like `parseMp4` never decodes H.264 but
  * surfaces the whole sample table. `parsePng(decodePixels = true)` also
  * implements the REAL decode (zlib inflate + the five scanline filters,
  * 8/16-bit, gray/RGB/palette) so the cheap path is verifiable against
  * ground truth and against javax.imageio (`ImageCodecsSpec` parses
  * ImageIO-written files and decodes our files with ImageIO — both
  * directions of third-party interop).
  *
  * Reference anchor: the reference treats media blobs as opaque bytes the
  * way SURVEY §2A's transforms treat text blobs; these parsers are the
  * extension family giving those bytes typed metadata (builder-prompt
  * "multimodal columns" mandate).
  */
object ImageCodecs {

  // ---------------------------------------------------------------- PNG

  /** Parsed PNG container. `pixSum` is the gate checksum (see below) and
    * is only populated when `decodePixels = true`; metadata fields come
    * from the chunk walk alone.
    */
  private[graft] case class PngMeta(
      width: Int, height: Int, bitDepth: Int, colorType: Int,
      interlace: Int, nChunks: Int, nIdat: Int, paletteSize: Int,
      ppuX: Long, ppuY: Long, physUnit: Int, gammaE5: Long,
      texts: Seq[(String, String)], pixSum: Long)

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def crc32(chunks: Array[Byte]*): Long = {
    val c = new java.util.zip.CRC32
    chunks.foreach(c.update)
    c.getValue
  }

  private def be32(v: Long): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
                    data: Array[Byte]): Unit = {
    val t = typ.getBytes("US-ASCII")
    out.write(be32(data.length.toLong))
    out.write(t); out.write(data)
    out.write(be32(crc32(t, data)))
  }

  /** Adam7 pass grid: (x0, y0, dx, dy) per pass. Each pass is an
    * independent sub-image with its own scanlines and filters; passes
    * that select no pixels at the image's dimensions contribute zero
    * bytes (not even filter bytes) — the spec rule small images exercise
    * constantly.
    */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Writer-side scanline filter (PNG spec §9): `raw` is the current raw
    * scanline, `prior` the previous RAW scanline (zeros for row 0), `bpp`
    * the filter byte offset. Returns the filtered bytes for `ft`.
    */
  private def filterRow(ft: Int, raw: Array[Byte], prior: Array[Byte],
                        bpp: Int): Array[Byte] = {
    val n = raw.length
    val out = new Array[Byte](n)
    var x = 0
    while (x < n) {
      val rv = raw(x) & 0xff
      val left = if (x >= bpp) raw(x - bpp) & 0xff else 0
      val up = prior(x) & 0xff
      val ul = if (x >= bpp) prior(x - bpp) & 0xff else 0
      val f = ft match {
        case 0 => rv
        case 1 => rv - left
        case 2 => rv - up
        case 3 => rv - (left + up) / 2
        case 4 => rv - paeth(left, up, ul)
      }
      out(x) = (f & 0xff).toByte
      x += 1
    }
    out
  }

  /** Inverse of [[filterRow]] — `cur` is the filtered scanline, mutated
    * in place into the raw scanline.
    */
  private def unfilterRow(ft: Int, cur: Array[Byte], prior: Array[Byte],
                          bpp: Int): Unit = {
    val n = cur.length
    var x = 0
    while (x < n) {
      val fv = cur(x) & 0xff
      val left = if (x >= bpp) cur(x - bpp) & 0xff else 0
      val up = prior(x) & 0xff
      val ul = if (x >= bpp) prior(x - bpp) & 0xff else 0
      val r = ft match {
        case 0 => fv
        case 1 => fv + left
        case 2 => fv + up
        case 3 => fv + (left + up) / 2
        case 4 => fv + paeth(left, up, ul)
        case other => throw new IllegalArgumentException(
          s"png: unknown filter type $other")
      }
      cur(x) = (r & 0xff).toByte
      x += 1
    }
  }

  // Fixture arithmetic (shared writer/oracle ground truth; the DuckDB
  // oracle in ExtensionQueries re-derives every one of these from doc_id):
  //   w = id%9+4, h = id%6+3
  //   colorType: id%3 == 0 -> 3 (palette)  | 1 -> 0 (gray) | 2 -> 2 (RGB)
  //   bitDepth: 16 when gray and id%6 == 4, else 8
  //   gray8  v = (id*7 + x*13 + y*31) % 256
  //   gray16 v = ((id*7 + x*13 + y*31) * 1009) % 65536  (bytes differ)
  //   rgb    r = (id + 3x + 5y) % 256, g = (3id + 7x + y) % 256,
  //          b = (5id + x + 11y) % 256
  //   palette: p = id%5+2 entries, entry i = ((11id+17i)%256,
  //          (5id+29i)%256, (3id+7i)%256); index(x,y) = (x + y*w + id) % p
  private[graft] def pngDims(id: Long): (Int, Int) =
    ((id % 9 + 4).toInt, (id % 6 + 3).toInt)
  private[graft] def pngColorType(id: Long): Int =
    (id % 3) match { case 0 => 3; case 1 => 0; case _ => 2 }
  private[graft] def pngBitDepth(id: Long): Int =
    if (pngColorType(id) == 0 && id % 6 == 4) 16 else 8

  private def rawScanlines(id: Long, w: Int, h: Int, ct: Int,
                           bd: Int): (Array[Array[Byte]], Int) = {
    val bpp = ct match {
      case 2 => if (bd == 16) 6 else 3
      case 0 => if (bd == 16) 2 else 1
      case 3 => 1
    }
    val rows = Array.tabulate(h) { y =>
      val row = new java.io.ByteArrayOutputStream()
      var x = 0
      while (x < w) {
        ct match {
          case 0 if bd == 8 =>
            row.write((((id * 7 + x * 13 + y * 31) % 256).toInt))
          case 0 =>
            val v = ((id * 7 + x * 13 + y * 31) * 1009 % 65536).toInt
            row.write(v >>> 8); row.write(v & 0xff)
          case 2 if bd == 8 =>
            row.write(((id + 3 * x + 5 * y) % 256).toInt)
            row.write(((3 * id + 7 * x + y) % 256).toInt)
            row.write(((5 * id + x + 11 * y) % 256).toInt)
          case 2 =>
            // 16-bit RGB: the same channel seeds widened by the gray16
            // multiplier so high and low bytes both vary
            def w16(v: Long): Unit = {
              val s = (v * 1009 % 65536).toInt
              row.write(s >>> 8); row.write(s & 0xff)
            }
            w16(id + 3 * x + 5 * y)
            w16(3 * id + 7 * x + y)
            w16(5 * id + x + 11 * y)
          case 3 =>
            val p = (id % 5 + 2).toInt
            row.write(((x + y.toLong * w + id) % p).toInt)
        }
        x += 1
      }
      row.toByteArray
    }
    (rows, bpp)
  }

  /** Deterministic real PNG per doc — multi-IDAT (id%3+1 chunks), all five
    * scanline filters (row y uses filter y%5), gAMA + pHYs + tEXt
    * ancillaries, PLTE for palette docs, CRC on every chunk, zlib-wrapped
    * deflate payload. javax.imageio decodes these files (spec-pinned), so
    * the writer is real, not merely parser-compatible.
    */
  private[graft] def pngOf(id: Long): Array[Byte] = {
    val (w, h) = pngDims(id)
    pngBytesFor(id, w, h, pngColorType(id), pngBitDepth(id))
  }

  /** Parameterized writer behind [[pngOf]] — specs use dimensions the
    * fixture arithmetic never produces (so did the realistic-size
    * ImageScale probe, historical (probe removed after 8bdcef0));
    * ancillary-chunk content stays id-derived.
    */
  private[graft] def pngBytesFor(id: Long, w: Int, h: Int, ct: Int,
                                 bd: Int,
                                 interlace: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    chunk(out, "IHDR", be32(w.toLong) ++ be32(h.toLong) ++
      Array(bd.toByte, ct.toByte, 0.toByte, 0.toByte,
        (if (interlace) 1 else 0).toByte))
    chunk(out, "gAMA", be32((id % 50 + 1) * 1000))
    val ppuX = (id % 100 + 1) * 100
    chunk(out, "pHYs", be32(ppuX) ++ be32(ppuX + id % 7) ++ Array(1.toByte))
    def text(k: String, v: String): Unit =
      chunk(out, "tEXt",
        k.getBytes("ISO-8859-1") ++ Array(0.toByte) ++ v.getBytes("ISO-8859-1"))
    text("Source", s"doc-$id")
    if (id % 2 == 0) text("Comment", s"c${id % 97}")
    if (ct == 3) {
      val p = (id % 5 + 2).toInt
      val plte = Array.tabulate(p * 3) { j =>
        val i = j / 3
        (j % 3 match {
          case 0 => (11 * id + 17 * i) % 256
          case 1 => (5 * id + 29 * i) % 256
          case _ => (3 * id + 7 * i) % 256
        }).toByte
      }
      chunk(out, "PLTE", plte)
    }
    val (rows, bpp) = rawScanlines(id, w, h, ct, bd)
    val filtered = new java.io.ByteArrayOutputStream()
    def writePass(passRows: Seq[Array[Byte]]): Unit = {
      var prior = if (passRows.nonEmpty) new Array[Byte](passRows.head.length)
        else Array.emptyByteArray
      passRows.zipWithIndex.foreach { case (raw, y) =>
        val ft = y % 5
        filtered.write(ft)
        filtered.write(filterRow(ft, raw, prior, bpp))
        prior = raw
      }
    }
    if (!interlace) writePass(rows.toSeq)
    else Adam7.foreach { case (x0, y0, dx, dy) =>
      // each pass: sample the full-image pixels on the pass grid; an
      // empty pass (no selected pixels) writes NOTHING, per spec
      val ys = y0 until h by dy
      val xs = x0 until w by dx
      if (ys.nonEmpty && xs.nonEmpty)
        writePass(ys.map { y =>
          xs.flatMap(x => rows(y).slice(x * bpp, (x + 1) * bpp)).toArray
        })
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered.toByteArray); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!deflater.finished())
      comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val cbytes = comp.toByteArray
    // split into k IDAT chunks (k = id%3+1): the multi-IDAT layout every
    // real encoder emits for non-tiny images
    val k = math.min((id % 3 + 1).toInt, cbytes.length)
    val per = (cbytes.length + k - 1) / k
    (0 until k).foreach { i =>
      chunk(out, "IDAT",
        cbytes.slice(i * per, math.min((i + 1) * per, cbytes.length)))
    }
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** PNG chunk walk + optional pixel decode.
    *
    * Always: signature check, per-chunk CRC32 validation, IHDR-first /
    * IEND-last / IDAT-contiguity ordering rules, IHDR sanity (compression
    * and filter method 0; interlace 0 or 1 — anything else rejects
    * loudly), supported depth/color combos (8-bit gray/RGB/palette,
    * 16-bit gray/RGB; anything else rejects loudly).
    *
    * With `decodePixels`: concatenated IDAT → zlib inflate (Inflater
    * verifies the adler32 trailer) → exact expected length check —
    * interlace 1 decodes the seven Adam7 passes, each an independent
    * scanline+filter chain (x99) → per-row unfilter (all five filter
    * types, bpp-aware) → checksum
    *   gray: Σ v   rgb/palette: Σ (3r + 5g + 7b)
    * Without it, the IDAT payload bytes are CRC-checked but never
    * inflated — the metadata-only scan a 100 TB image sweep runs.
    */
  private[graft] def parsePng(bytes: Array[Byte],
                              decodePixels: Boolean): PngMeta = {
    require(bytes.length >= 8 && PngSig.indices.forall(i => bytes(i) == PngSig(i)),
      "png: bad signature")
    var pos = 8
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    var width, height, bitDepth, colorType = -1
    var interlace = 0
    var nChunks, nIdat, paletteSize, physUnit = 0
    var ppuX, ppuY, gammaE5 = 0L
    var palette: Array[Byte] = null
    val texts = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val idat = new java.io.ByteArrayOutputStream()
    var sawIend = false
    var idatDone = false
    while (pos < bytes.length) {
      require(!sawIend, "png: data after IEND")
      require(pos + 8 <= bytes.length, "png: truncated chunk header")
      val len = u32(pos).toInt
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      require(pos + 12 + len <= bytes.length, s"png: chunk $typ overruns file")
      val data = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
      val crc = u32(pos + 8 + len)
      require(crc == crc32(typ.getBytes("US-ASCII"), data),
        s"png: CRC mismatch in $typ")
      require(nChunks > 0 || typ == "IHDR", "png: first chunk must be IHDR")
      if (typ != "IDAT" && nIdat > 0) idatDone = true
      typ match {
        case "IHDR" =>
          require(len == 13, "png: bad IHDR length")
          width = u32(pos + 8).toInt; height = u32(pos + 12).toInt
          bitDepth = data(8) & 0xff; colorType = data(9) & 0xff
          require(data(10) == 0, "png: unknown compression method")
          require(data(11) == 0, "png: unknown filter method")
          interlace = data(12) & 0xff
          require(interlace == 0 || interlace == 1,
            s"png: unknown interlace method $interlace")
          require((bitDepth == 8 && Set(0, 2, 3)(colorType)) ||
            (bitDepth == 16 && Set(0, 2)(colorType)),
            s"png: unsupported depth/color ($bitDepth/$colorType)")
          // every accepted combo has a matching decode arm below — keep
          // this require and the pixSum cases in lockstep
        case "PLTE" =>
          require(len % 3 == 0 && len > 0, "png: bad PLTE length")
          palette = data; paletteSize = len / 3
        case "IDAT" =>
          require(!idatDone, "png: non-contiguous IDAT chunks")
          nIdat += 1
          // metadata-only walks never inflate; skipping the buffer copy
          // here is most of x93's win over the decode path
          if (decodePixels) idat.write(data)
        case "tEXt" =>
          val z = data.indexOf(0.toByte)
          require(z > 0, "png: tEXt missing separator")
          texts += ((new String(data, 0, z, "ISO-8859-1"),
            new String(data, z + 1, len - z - 1, "ISO-8859-1")))
        case "pHYs" =>
          require(len == 9, "png: bad pHYs length")
          ppuX = u32(pos + 8); ppuY = u32(pos + 12); physUnit = data(8) & 0xff
        case "gAMA" =>
          require(len == 4, "png: bad gAMA length")
          gammaE5 = u32(pos + 8)
        case "IEND" =>
          require(len == 0, "png: bad IEND length"); sawIend = true
        case _ => () // unknown ancillary: skipped, CRC still enforced
      }
      nChunks += 1
      pos += 12 + len
    }
    require(sawIend, "png: missing IEND")
    require(nIdat > 0, "png: missing IDAT")
    require(colorType != 3 || palette != null, "png: palette image missing PLTE")
    var pixSum = 0L
    if (decodePixels) {
      val channels = colorType match { case 2 => 3; case _ => 1 }
      val bytesPerVal = bitDepth / 8
      val bpp = channels * bytesPerVal
      // sub-images: the whole frame for interlace 0; the seven Adam7
      // passes for interlace 1 (each with its own scanlines + filter
      // chain; dimensionless passes contribute zero bytes, per spec).
      // The gate checksum is position-independent, so summing per pass
      // needs no pixel re-placement — the passes partition the image.
      val subs: Seq[(Int, Int)] =
        if (interlace == 0) Seq((width, height))
        else Adam7.toSeq.map { case (x0, y0, dx, dy) =>
          (((width - x0) + dx - 1) / dx max 0,
            ((height - y0) + dy - 1) / dy max 0)
        }.filter { case (pw, ph) => pw > 0 && ph > 0 }
      val expected = subs.map { case (pw, ph) =>
        ph.toLong * (1 + pw.toLong * bpp) }.sum
      require(expected <= Int.MaxValue, "png: image too large to buffer")
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(idat.toByteArray)
      val raw = new Array[Byte](expected.toInt)
      var off = 0
      while (!inflater.finished() && off < raw.length) {
        val n = inflater.inflate(raw, off, raw.length - off)
        require(n > 0 || inflater.finished(), "png: truncated zlib stream")
        off += n
      }
      require(off == raw.length && inflater.finished(),
        s"png: decoded length $off != expected ${raw.length}")
      inflater.end()
      var base = 0
      subs.foreach { case (pw, ph) =>
        val rowBytes = pw * bpp
        var prior = new Array[Byte](rowBytes)
        var y = 0
        while (y < ph) {
          val ft = raw(base + y * (1 + rowBytes)) & 0xff
          val cur = java.util.Arrays.copyOfRange(raw,
            base + y * (1 + rowBytes) + 1, base + (y + 1) * (1 + rowBytes))
          unfilterRow(ft, cur, prior, bpp)
          var x = 0
          while (x < pw) {
            colorType match {
              case 0 if bitDepth == 8 => pixSum += cur(x) & 0xff
              case 0 =>
                pixSum += ((cur(2 * x) & 0xff) << 8) | (cur(2 * x + 1) & 0xff)
              case 2 if bitDepth == 8 =>
                pixSum += 3L * (cur(3 * x) & 0xff) +
                  5L * (cur(3 * x + 1) & 0xff) + 7L * (cur(3 * x + 2) & 0xff)
              case 2 =>
                def s16(i: Int): Long =
                  (((cur(i) & 0xff) << 8) | (cur(i + 1) & 0xff)).toLong
                pixSum += 3L * s16(6 * x) + 5L * s16(6 * x + 2) +
                  7L * s16(6 * x + 4)
              case 3 =>
                val i = cur(x) & 0xff
                require(i < paletteSize, "png: palette index out of range")
                pixSum += 3L * (palette(3 * i) & 0xff) +
                  5L * (palette(3 * i + 1) & 0xff) + 7L * (palette(3 * i + 2) & 0xff)
            }
            x += 1
          }
          prior = cur
          y += 1
        }
        base += ph * (1 + rowBytes)
      }
    }
    PngMeta(width, height, bitDepth, colorType, interlace, nChunks, nIdat,
      paletteSize, ppuX, ppuY, physUnit, gammaE5, texts.toSeq, pixSum)
  }

  def synthesizePng(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Multimodal.ImageRow(id, pngOf(id)))
      .toDF()
  }

  /** Same fixture arithmetic as [[pngOf]], encoded Adam7-INTERLACED —
    * the seven-pass progressive layout (x99). Pixel content is
    * identical, so the x99 oracle is x94's verbatim: only the encoding
    * differs, which is exactly what the gate proves the decoder
    * understands.
    */
  def synthesizeAdam7(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map { id =>
        val (w, h) = pngDims(id)
        Multimodal.ImageRow(id,
          pngBytesFor(id, w, h, pngColorType(id), pngBitDepth(id),
            interlace = true))
      }
      .toDF()
  }

  /** x93: metadata-only chunk walk (no inflate) over the synthesized
    * corpus — every surfaced field is oracle-predicted from doc_id.
    */
  def pngMetaTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = parsePng(bytes, decodePixels = false)
        (id, m.width, m.height, m.bitDepth, m.colorType, m.interlace,
          m.nIdat, m.paletteSize, m.ppuX, m.gammaE5, m.texts.size)
      }
      .toDF("doc_id", "width", "height", "bit_depth", "color_type",
        "interlace", "n_idat", "palette_size", "ppu_x", "gamma_e5",
        "n_text")
  }

  /** x94: full decode (inflate + unfilter) — checksum proves every pixel. */
  def pngPixelTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = parsePng(bytes, decodePixels = true)
        (id, m.width, m.height, m.pixSum)
      }
      .toDF("doc_id", "width", "height", "pix_sum")
  }

  // --------------------------------------------------------------- JPEG

  private[graft] case class JpegMeta(
      width: Int, height: Int, progressive: Boolean, nComponents: Int,
      hSub: Int, vSub: Int, dri: Int, orientation: Int, xRes: Long,
      endian: String, scanPayload: Long, nStuffed: Long, nRst: Long)

  // Fixture arithmetic (oracle re-derives all of it):
  //   w = id%300+16, h = id%250+16
  //   grayscale (1 component) when id%5 == 0, else 3 components
  //   subsampling (3-comp): id%2 == 0 -> 2x2 (4:2:0), else 1x1 (4:4:4)
  //   progressive (SOF2) when id%4 == 0, else baseline SOF0
  //   DRI present when id%4 == 1, interval id%10+1
  //   EXIF: little-endian TIFF when id%2 == 0 else big-endian;
  //         orientation = id%8+1; XResolution = id%300+72 (RATIONAL,
  //         stored via the >4-byte offset indirection)
  //   entropy payload: p = id%40+10 bytes, byte j = (19id + 23j) % 256;
  //         each 0xFF payload byte is 0x00-stuffed; with DRI, an RST
  //         marker after every 8 payload bytes (not after the last group)
  private[graft] def jpegOf(id: Long): Array[Byte] = {
    val w = (id % 300 + 16).toInt; val h = (id % 250 + 16).toInt
    val gray = id % 5 == 0
    val ncomp = if (gray) 1 else 3
    val sub = if (!gray && id % 2 == 0) 2 else 1
    val progressive = id % 4 == 0
    val hasDri = id % 4 == 1
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, data: Array[Byte]): Unit = {
      marker(m)
      val len = data.length + 2
      out.write(len >>> 8); out.write(len & 0xff); out.write(data)
    }
    marker(0xd8) // SOI
    segment(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 2, 1, 0, 72, 0, 72, 0, 0))
    // APP1 / Exif: TIFF header + one IFD { Orientation, XResolution }
    val little = id % 2 == 0
    def tiff16(v: Int): Array[Byte] =
      if (little) Array((v & 0xff).toByte, (v >>> 8).toByte)
      else Array((v >>> 8).toByte, (v & 0xff).toByte)
    def tiff32(v: Long): Array[Byte] =
      if (little) Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
        ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
      else Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    val orientation = (id % 8 + 1).toInt
    val xres = id % 300 + 72
    // IFD layout (offsets from TIFF header start): header 8 bytes, entry
    // count 2, two 12-byte entries, 4-byte next-IFD, then the RATIONAL
    // value at offset 8 + 2 + 24 + 4 = 38
    val tiffBody =
      (if (little) "II".getBytes("US-ASCII") else "MM".getBytes("US-ASCII")) ++
        tiff16(42) ++ tiff32(8) ++
        tiff16(2) ++
        // 0x0112 Orientation, SHORT x1, value inline (left-justified pad)
        tiff16(0x0112) ++ tiff16(3) ++ tiff32(1) ++
        tiff16(orientation) ++ tiff16(0) ++
        // 0x011A XResolution, RATIONAL x1, value at offset 38
        tiff16(0x011a) ++ tiff16(5) ++ tiff32(1) ++ tiff32(38) ++
        tiff32(0) ++ // next IFD
        tiff32(xres) ++ tiff32(1)
    segment(0xe1, "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiffBody)
    // DQT: one 8-bit table, id 0 (values immaterial to the walk)
    segment(0xdb, Array(0.toByte) ++ Array.tabulate(64)(i => ((i * 3 + 1) % 255).toByte))
    // SOF0 / SOF2
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    sof.write(h >>> 8); sof.write(h & 0xff)
    sof.write(w >>> 8); sof.write(w & 0xff)
    sof.write(ncomp)
    (1 to ncomp).foreach { c =>
      sof.write(c)
      sof.write(if (c == 1) (sub << 4) | sub else 0x11)
      sof.write(if (c == 1) 0 else 1)
    }
    segment(if (progressive) 0xc2 else 0xc0, sof.toByteArray)
    // DHT: one stub table (16 zero counts + no symbols is technically
    // empty; emit one 1-bit code so the segment is well-formed)
    segment(0xc4, Array(0x00.toByte, 1.toByte) ++ Array.fill(15)(0.toByte) ++
      Array(0.toByte))
    if (hasDri) segment(0xdd, {
      val v = (id % 10 + 1).toInt
      Array((v >>> 8).toByte, (v & 0xff).toByte)
    })
    // SOS header
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(ncomp)
    (1 to ncomp).foreach { c => sos.write(c); sos.write(if (c == 1) 0 else 0x11) }
    sos.write(0); sos.write(63); sos.write(0)
    segment(0xda, sos.toByteArray)
    // entropy-coded payload with byte stuffing + optional RST markers
    val p = (id % 40 + 10).toInt
    var j = 0
    while (j < p) {
      val b = ((19 * id + 23 * j) % 256).toInt
      out.write(b)
      if (b == 0xff) out.write(0x00) // stuffing
      if (hasDri && (j + 1) % 8 == 0 && j + 1 < p) {
        out.write(0xff); out.write(0xd0 + ((j + 1) / 8 - 1) % 8)
      }
      j += 1
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** JPEG marker walk: JFIF APP0, EXIF APP1 (full TIFF IFD parse in both
    * byte orders, inline SHORT and offset-indirected RATIONAL values),
    * SOF0/SOF2 frame header (dims, components, subsampling), DRI, then an
    * entropy-scan that understands 0xFF00 byte stuffing and RST0-7 restart
    * markers — the three byte classes a scan really contains. Any other
    * marker inside the scan, or EOF before EOI, rejects loudly.
    */
  private[graft] def parseJpeg(bytes: Array[Byte]): JpegMeta = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "jpeg: missing SOI")
    var pos = 2
    var width, height, ncomp = -1
    var hSub, vSub = 1
    var progressive = false
    var dri = 0
    var orientation = 0
    var xRes = 0L
    var endian = ""
    var scanPayload, nStuffed, nRst = 0L
    var done = false
    var consumedPos = false
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
    while (!done) {
      require(pos + 2 <= bytes.length, "jpeg: truncated before marker")
      require((bytes(pos) & 0xff) == 0xff, s"jpeg: expected marker at $pos")
      // fill bytes: any number of 0xFF may pad before the marker code —
      // bounded, so a file truncated inside FF padding rejects loudly
      // instead of overrunning the buffer
      while (pos + 1 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff)
        pos += 1
      require(pos + 2 <= bytes.length, "jpeg: truncated in marker padding")
      val m = bytes(pos + 1) & 0xff
      pos += 2
      m match {
        case 0xd9 => done = true
        case x if x >= 0xd0 && x <= 0xd7 =>
          throw new IllegalArgumentException("jpeg: RST outside scan")
        case 0x01 => () // TEM, standalone
        case _ =>
          require(pos + 2 <= bytes.length, "jpeg: truncated segment length")
          val len = u16(pos)
          require(len >= 2 && pos + len <= bytes.length,
            s"jpeg: segment 0x${m.toHexString} overruns file")
          val d0 = pos + 2; val dlen = len - 2
          m match {
            case 0xe1 if dlen >= 14 &&
              new String(bytes, d0, 4, "US-ASCII") == "Exif" =>
              val t0 = d0 + 6 // TIFF header start
              val segEnd = pos + len
              // every IFD/value offset is attacker/corruption-controlled:
              // bound every read to the APP1 segment or reject loudly —
              // out-of-segment reads would otherwise crash (AIOOBE) or
              // silently surface the NEXT segment's bytes as metadata
              def chk(p: Int, n: Int): Int = {
                require(p >= t0 && p + n <= segEnd,
                  s"jpeg: EXIF offset $p out of segment")
                p
              }
              val bo = new String(bytes, t0, 2, "US-ASCII")
              require(bo == "II" || bo == "MM", "jpeg: bad TIFF byte order")
              endian = bo
              val little = bo == "II"
              def t16(p0: Int): Int = {
                val p = chk(p0, 2)
                if (little) (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
                else ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
              }
              def t32(p0: Int): Long = {
                val p = chk(p0, 4)
                if (little) (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
                  ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
                else ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
                  ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
              }
              require(t16(t0 + 2) == 42, "jpeg: bad TIFF magic")
              val ifd = t0 + t32(t0 + 4).toInt
              val n = t16(ifd)
              (0 until n).foreach { i =>
                val e = ifd + 2 + 12 * i
                val tag = t16(e); val typ = t16(e + 2)
                tag match {
                  case 0x0112 if typ == 3 => orientation = t16(e + 8)
                  case 0x011a if typ == 5 =>
                    val off = t0 + t32(e + 8).toInt
                    val den = t32(off + 4)
                    require(den != 0, "jpeg: zero XResolution denominator")
                    xRes = t32(off) / den
                  case _ => ()
                }
              }
            case 0xc0 | 0xc1 | 0xc2 =>
              progressive = m == 0xc2
              height = u16(d0 + 1); width = u16(d0 + 3)
              ncomp = bytes(d0 + 5) & 0xff
              require(dlen == 6 + 3 * ncomp, "jpeg: bad SOF length")
              val hv = bytes(d0 + 7) & 0xff
              hSub = hv >>> 4; vSub = hv & 0x0f
            case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd |
                0xce | 0xcf =>
              throw new IllegalArgumentException(
                s"jpeg: unsupported SOF 0x${m.toHexString} " +
                  "(hierarchical/arithmetic out of fixture scope)")
            case 0xda =>
              require(width > 0, "jpeg: SOS before SOF")
              // entropy scan after the SOS header: three byte classes —
              // payload, 0xFF00 stuffing, RST0-7. Any OTHER marker ends
              // the scan: EOI finishes the image, everything else (the
              // DHT/SOS of a progressive image's next scan, DNL, COM)
              // returns control to the marker walk — a real progressive
              // JPEG is a SEQUENCE of scans, not one. 0xFF fill bytes
              // are legal padding inside the scan tail too.
              var p = pos + len
              var inScan = true
              while (inScan) {
                require(p < bytes.length, "jpeg: EOF inside scan")
                val b = bytes(p) & 0xff
                if (b != 0xff) { scanPayload += 1; p += 1 }
                else {
                  require(p + 1 < bytes.length, "jpeg: EOF at scan marker")
                  val nb = bytes(p + 1) & 0xff
                  if (nb == 0x00) { scanPayload += 1; nStuffed += 1; p += 2 }
                  else if (nb >= 0xd0 && nb <= 0xd7) { nRst += 1; p += 2 }
                  else if (nb == 0xff) p += 1 // fill byte
                  else if (nb == 0xd9) { inScan = false; done = true }
                  else inScan = false // next segment: resume marker walk
                }
              }
              pos = p // at the 0xFF of the scan-ending marker
              consumedPos = true
            case 0xdd =>
              require(dlen == 2, "jpeg: bad DRI length"); dri = u16(d0)
            case _ => () // DQT/DHT/APPn/COM: length-skipped
          }
          if (!consumedPos) pos += len
          consumedPos = false
      }
    }
    require(width > 0, "jpeg: missing SOF")
    JpegMeta(width, height, progressive, ncomp, hSub, vSub, dri, orientation,
      xRes, endian, scanPayload, nStuffed, nRst)
  }

  def synthesizeJpeg(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .map(id => Multimodal.ImageRow(id, jpegOf(id)))
      .toDF()
  }

  def jpegMetaTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("content")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = parseJpeg(bytes)
        (id, m.width, m.height, m.progressive, m.nComponents, m.hSub, m.vSub,
          m.dri, m.orientation, m.xRes, m.endian, m.scanPayload, m.nStuffed,
          m.nRst)
      }
      .toDF("doc_id", "width", "height", "progressive", "n_components",
        "h_sub", "v_sub", "dri", "orientation", "x_res", "endian",
        "scan_payload", "n_stuffed", "n_rst")
  }
}
