package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{CRC32, GZIPOutputStream, ZipEntry, ZipOutputStream}

import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode

import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZOutputFile}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.scalactic.source.Position
import org.scalatest.Assertions

/** The one place specs resolve fixture paths.
  *
  * The reference ships a golden file corpus (`tests/fixtures/src`) and an
  * archive written by its own code (`tests/fixtures/archive`). Specs that
  * only need a heterogeneous input tree read [[src]]: the reference's
  * corpus where that tree is checked out, else a corpus of the same shape
  * generated once per test JVM by [[Corpus]]. Specs that assert the
  * reference's own shipped files gate themselves with [[assumePresent]]
  * and report as canceled where the tree is absent.
  */
object Fixtures {

  /** Root of the reference fixture tree, present or not;
    * [[graft.tools.GoldenDecode.SrcDir]] names its `src` corpus. */
  val ReferenceRoot: Path = Paths.get(graft.tools.GoldenDecode.SrcDir).getParent

  /** The reference fixture tree, when it is checked out. */
  val reference: Option[Path] = Some(ReferenceRoot).filter(Files.isDirectory(_))

  /** `rel` under the reference fixture tree, present or not. */
  def referencePath(rel: String): String = ReferenceRoot.resolve(rel).toString

  /** Cancels the calling spec unless every one of `paths` exists. */
  def assumePresent(paths: String*)(implicit pos: Position): Unit =
    paths.foreach { p =>
      Assertions.assume(Files.exists(Paths.get(p)), s"fixture $p is absent")
    }

  /** The heterogeneous input corpus. Read-only: specs copy out of it. */
  lazy val src: String = reference.map(_.resolve("src"))
    .filter(Files.isDirectory(_))
    .getOrElse(Corpus.generate())
    .toString
}

/** A deterministic stand-in for the reference's `tests/fixtures/src`,
  * built from this code alone (nothing committed as binary, nothing
  * fetched). It has the shape BASELINE.md and FIXTURES.md §1 record: 74
  * files, 12 of them PDFs (one a zero-byte `empty.pdf`), a `testdir/`
  * subdirectory, and the two published sha1 vectors `utf.txt` and
  * `testdir/test.txt`. The images are encoded with `javax.imageio` at the
  * geometries the reference's images have, and the seven keys the
  * extension map pins to `application/octet-stream` hold content a sniff
  * would place (calendar text, 7z and OLE2 magic, a PST header, emlx
  * messages).
  */
private object Corpus {

  /** Writes the corpus into a fresh temp directory (removed when the JVM
    * exits) and returns its root. */
  def generate(): Path = {
    val tmp = Files.createTempDirectory("graft-fixtures")
    sys.addShutdownHook(deleteTree(tmp))
    val root = tmp.resolve("src")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    files.foreach { case (rel, bytes) => put(rel, bytes) }
    // the 7z needs a seekable file; its first half is the split `.001`
    val sevenZ = root.resolve("500_pages.7z")
    val out = new SevenZOutputFile(sevenZ.toFile)
    try (1 to 5).foreach { i =>
      val e = new SevenZArchiveEntry()
      e.setName(f"pages/page_$i%03d.txt")
      out.putArchiveEntry(e)
      out.write(text(s"page $i of the bundle\n" * 100))
      out.closeArchiveEntry()
    } finally out.close()
    val whole = Files.readAllBytes(sevenZ)
    put("500_pages.7z.001", whole.take(whole.length / 2))
    root
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.toArray.foreach(c => deleteTree(c.asInstanceOf[Path]))
      finally children.close()
    }
    Files.deleteIfExists(p)
  }

  private def text(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Every file but the two 7z ones, keyed by path under the root. */
  private def files: Seq[(String, Array[Byte])] = {
    val eml = mail("alice@example.org", "bob@example.org", "Quarterly figures",
      "Attached are the figures we discussed.")
    Seq(
      // ---- PDF (12)
      "106972554.pdf" -> pdf(Seq("Registry extract 106972554", "Officers", "Shareholders")),
      "twopage.pdf" -> pdf(Seq("Page one", "Page two")),
      "empty.pdf" -> Array.emptyByteArray,
      "hello_world.pdf" -> pdf(Seq("Hello world")),
      "scanned_letter.pdf" -> pdf(Seq("Dear Sir or Madam")),
      "annual_report_2019.pdf" -> pdf(Seq("Annual report 2019", "Accounts", "Notes", "Auditor")),
      "invoice_4471.pdf" -> pdf(Seq("Invoice 4471: 1200 EUR")),
      "contract_signed.pdf" -> pdf(Seq("Contract", "Signatures")),
      "meeting_minutes.pdf" -> pdf(Seq("Minutes of the board meeting")),
      "press_release.pdf" -> pdf(Seq("For immediate release")),
      "multi_column.pdf" -> pdf(Seq("Left column  Right column")),
      "5_pages.pdf" -> pdf((1 to 5).map(i => s"Page $i")),
      // ---- images (14)
      "regression_jpg.jpg" -> encode(blocks(1350, 282, seed = 1), "jpg"),
      "regression_tiff.tiff" -> tiff(Seq(blocks(1350, 282, seed = 1))),
      "hello_world_tiff.tif" -> tiff(Seq(blocks(819, 460, seed = 2))),
      "multipage_tiff_example.tif" -> tiff((3 to 5).map(s => blocks(800, 600, seed = s))),
      "regression_gif.gif" -> gif((0 until 6).map(gradientFrame(320, 180, _))),
      "chart.gif" -> gif(Seq(gradientFrame(200, 100, 2))),
      "photo.jpeg" -> encode(blocks(640, 480, seed = 6), "jpg"),
      "logo.png" -> encode(blocks(64, 64, seed = 7), "png"),
      "scan_page_1.png" -> encode(blocks(400, 560, seed = 8), "png"),
      "video_still.bmp" -> encode(blocks(160, 90, seed = 9), "bmp"),
      // no JDK encoder for these: container signature + opaque payload
      "regression_webp.webp" -> (text("RIFF") ++ le32(1024 + 4) ++ text("WEBPVP8 ") ++ filler(1024, 3)),
      "regression_openjpeg.jp2" -> (bytes(0, 0, 0, 0x0c, 'j', 'P', ' ', ' ', 0x0d, 0x0a, 0x87, 0x0a) ++
        bytes(0, 0, 0, 0x14) ++ text("ftypjp2 ") ++ bytes(0, 0, 0, 0) ++ text("jp2 ") ++ filler(1024, 4)),
      "Test_rs20846.djvu" -> (text("AT&TFORM") ++ bytes(0, 0, 4, 4) ++ text("DJVU") ++ filler(1024, 5)),
      "image.svg" -> text("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<svg xmlns=\"http://www.w3.org/2000/svg\" width=\"120\" height=\"60\">" +
        "<rect width=\"120\" height=\"60\" fill=\"#336\"/>" +
        "<text x=\"10\" y=\"35\" fill=\"#fff\">graft</text></svg>\n"),
      // ---- office documents (10)
      "hello world word.docx" -> zip(
        "[Content_Types].xml" -> text("<?xml version=\"1.0\"?><Types/>"),
        "word/document.xml" -> text("<w:document><w:p>hello world</w:p></w:document>")),
      "file.xlsx" -> zip(
        "[Content_Types].xml" -> text("<?xml version=\"1.0\"?><Types/>"),
        "xl/workbook.xml" -> text("<workbook><sheets/></workbook>")),
      "invoice.xlsx" -> zip(
        "[Content_Types].xml" -> text("<?xml version=\"1.0\"?><Types/>"),
        "xl/worksheets/sheet1.xml" -> text("<worksheet>4471;1200</worksheet>")),
      "presentation.pptx" -> zip(
        "[Content_Types].xml" -> text("<?xml version=\"1.0\"?><Types/>"),
        "ppt/presentation.xml" -> text("<presentation/>")),
      "Plan.odt" -> zip(
        "mimetype" -> text("application/vnd.oasis.opendocument.text"),
        "content.xml" -> text("<office:document-content>plan</office:document-content>")),
      "rom.ods" -> zip(
        "mimetype" -> text("application/vnd.oasis.opendocument.spreadsheet"),
        "content.xml" -> text("<office:document-content>rom</office:document-content>")),
      "slides.odp" -> zip(
        "mimetype" -> text("application/vnd.oasis.opendocument.presentation"),
        "content.xml" -> text("<office:document-content>slides</office:document-content>")),
      "legacy_memo.doc" -> ole2("memo"),
      "budget.xls" -> ole2("budget"),
      "slides.ppt" -> ole2("slides"),
      // ---- text and data (11)
      "utf.txt" -> text("Îș unî©ođ€.\n"),
      "testdir/test.txt" -> text("hello world"),
      "latin1.txt" -> "Größe der Straße, café crème\n".getBytes(ISO_8859_1),
      "cp1252.txt" -> "“quoted” — 5 €\n".getBytes("windows-1252"),
      "long_lines.txt" -> text(("lorem ipsum dolor sit amet " * 40 + "\n") * 20),
      "letter.rtf" -> text("{\\rtf1\\ansi\\deff0 {\\fonttbl {\\f0 Times;}} Dear reader.\\par }\n"),
      "companies.csv" -> text("id,name,jurisdiction\n1,Acme Ltd,gb\n2,Globex GmbH,de\n3,Initech LLC,us\n"),
      "transactions.csv" -> text("date,from,to,amount\n2024-01-02,1,2,1200.50\n2024-01-05,2,3,99.00\n"),
      "records.json" -> text("[{\"id\": 1, \"name\": \"Acme Ltd\"}, {\"id\": 2, \"name\": \"Globex GmbH\"}]\n"),
      "registry.dbf" -> dbf(Seq("Acme Ltd", "Globex GmbH", "Initech LLC")),
      "contacts.mdb" -> (bytes(0, 1, 0, 0) ++ text("Standard Jet DB") ++ bytes(0) ++ filler(2048, 6)),
      // ---- web (5)
      "doc.html" -> text("<!DOCTYPE html>\n<html><head><title>Doc</title></head>" +
        "<body><h1>Document</h1><p>A paragraph.</p></body></html>\n"),
      "empty_5_doc_pages.html" -> text("<html><body>" +
        "<div class=\"page\"></div>" * 5 + "</body></html>\n"),
      "index.html" -> text("<!doctype html><html><body><a href=\"doc.html\">doc</a></body></html>\n"),
      "testdir/readme.html" -> text("<html><body><p>test directory</p></body></html>\n"),
      "sitemap.xml" -> text("<?xml version=\"1.0\"?><urlset><url><loc>https://example.org/</loc></url></urlset>\n"),
      // ---- mail (11)
      "email_attached_inline.eml" -> mail("carol@example.org", "dan@example.org", "Inline picture",
        "See the picture below.", attachment = Some("logo.png")),
      "email_base64.eml" -> mail("erin@example.org", "frank@example.org", "Base64 body",
        java.util.Base64.getMimeEncoder.encodeToString(text("Hello in base64.\n" * 8)),
        encoding = "base64"),
      "simple_reply.eml" -> mail("bob@example.org", "alice@example.org", "Re: Quarterly figures",
        "Thanks, received."),
      "forwarded.eml" -> mail("alice@example.org", "grace@example.org", "Fwd: Quarterly figures",
        "Forwarding for your records."),
      "newsletter.eml" -> mail("news@example.org", "alice@example.org", "Newsletter",
        "<h1>News</h1><p>This month in brief.</p>", contentType = "text/html"),
      "plan.mbox" -> (text("From alice@example.org Tue Feb 21 10:04:55 2023\n") ++ eml ++
        text("\nFrom bob@example.org Tue Feb 21 11:30:00 2023\n") ++
        mail("bob@example.org", "alice@example.org", "Re: plan", "Agreed.")),
      "plaintext.emlx" -> emlx(eml),
      "richtext.emlx" -> emlx(mail("heidi@example.org", "ivan@example.org", "Rich text",
        "<b>bold</b> and <i>italic</i>", contentType = "text/html")),
      "fnf.msg" -> ole2("__substg1.0_0037001F fnf"),
      "piste.msg" -> ole2("__substg1.0_0037001F piste"),
      "testPST.pst" -> (text("!BDN") ++ filler(4092, 7)),
      // ---- calendar and contacts (3)
      "meetup.ics" -> calendar("Meetup"),
      "event.ical" -> calendar("Event"),
      "john-doe.vcf" -> text("BEGIN:VCARD\r\nVERSION:3.0\r\nFN:John Doe\r\n" +
        "EMAIL:john@doe.org\r\nEND:VCARD\r\n"),
      // ---- archives besides the 7z pair (4)
      "test-documents.zip" -> zip("test-documents/a.txt" -> text("alpha\n"),
        "test-documents/b.csv" -> text("x,y\n1,2\n")),
      "test-documents.tar" -> tar("test-documents/a.txt" -> text("alpha\n"),
        "test-documents/b.csv" -> text("x,y\n1,2\n")),
      "documents.tgz" -> gzip(tar("documents/readme.txt" -> text("packed\n"))),
      // no RAR encoder exists here: RAR5 signature + opaque payload
      "test-documents.rar" -> (bytes('R', 'a', 'r', '!', 0x1a, 0x07, 0x01, 0x00) ++ filler(512, 8)),
      // ---- audio (2)
      "memo.m4a" -> (bytes(0, 0, 0, 0x18) ++ text("ftypM4A ") ++ bytes(0, 0, 0, 0) ++
        text("M4A isom") ++ bytes(0, 0, 0x04, 0x08) ++ text("mdat") ++ filler(1024, 9)),
      "tone.wav" -> wav(440, 4000))
  }

  // ------------------------------------------------------------ encoders

  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private def le32(v: Int): Array[Byte] = bytes(v, v >> 8, v >> 16, v >> 24)

  /** `n` pseudo-random bytes, fixed by `seed`. */
  private def filler(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new java.util.Random(seed).nextBytes(b)
    b
  }

  /** A valid one-font PDF, one page per string (ASCII, no parentheses). */
  private def pdf(pages: Seq[String]): Array[Byte] = {
    val n = pages.size
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${4 + 2 * i} 0 R").mkString(" ")}] /Count $n >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
      pages.zipWithIndex.flatMap { case (line, i) =>
        val stream = s"BT /F1 12 Tf 72 720 Td ($line) Tj ET"
        Seq(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>",
          s"<< /Length ${stream.length} >>\nstream\n$stream\nendstream")
      }
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (o, i) =>
      val at = sb.length
      sb.append(s"${i + 1} 0 obj\n$o\nendobj\n")
      at
    }
    val xref = sb.length
    sb.append(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    sb.toString.getBytes(US_ASCII)
  }

  /** A zip with fixed entry times; a `mimetype` member is stored
    * uncompressed, as ODF requires of its first member. */
  private def zip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      if (name == "mimetype") {
        val crc = new CRC32()
        crc.update(body)
        e.setMethod(ZipEntry.STORED)
        e.setSize(body.length.toLong)
        e.setCompressedSize(body.length.toLong)
        e.setCrc(crc.getValue)
      }
      z.putNextEntry(e)
      z.write(body)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def tar(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val t = new TarArchiveOutputStream(bos)
    entries.foreach { case (name, body) =>
      val e = new TarArchiveEntry(name)
      e.setSize(body.length.toLong)
      e.setModTime(0L)
      t.putArchiveEntry(e)
      t.write(body)
      t.closeArchiveEntry()
    }
    t.close()
    bos.toByteArray
  }

  private def gzip(body: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(body)
    g.close()
    bos.toByteArray
  }

  /** OLE2 compound-file magic and a header-sized prefix, then `tag`. */
  private def ole2(tag: String): Array[Byte] =
    bytes(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1) ++
      new Array[Byte](504) ++ text(tag) ++ filler(1024, tag.length.toLong)

  /** A dBase III table with one 20-character NAME column. */
  private def dbf(names: Seq[String]): Array[Byte] = {
    val recLen = 1 + 20
    val headerLen = 32 + 32 + 1
    val field = text("NAME").padTo(11, 0.toByte) ++ text("C") ++ new Array[Byte](4) ++
      bytes(20, 0) ++ new Array[Byte](14)
    val header = bytes(0x03, 124, 1, 1) ++ le32(names.size) ++
      bytes(headerLen, headerLen >> 8, recLen, recLen >> 8) ++ new Array[Byte](20)
    val records = names.flatMap(n => text(" " + n.padTo(20, ' ')))
    header ++ field ++ bytes(0x0d) ++ records ++ bytes(0x1a)
  }

  private def mail(from: String, to: String, subject: String, body: String,
                   contentType: String = "text/plain", encoding: String = "7bit",
                   attachment: Option[String] = None): Array[Byte] = {
    val head = s"From: $from\r\nTo: $to\r\nSubject: $subject\r\n" +
      "Date: Tue, 21 Feb 2023 10:04:55 +0000\r\nMIME-Version: 1.0\r\n"
    val msg = attachment match {
      case None =>
        head + s"Content-Type: $contentType; charset=utf-8\r\n" +
          s"Content-Transfer-Encoding: $encoding\r\n\r\n$body\r\n"
      case Some(name) =>
        val png = java.util.Base64.getMimeEncoder.encodeToString(
          encode(blocks(16, 16, seed = 10), "png"))
        head + "Content-Type: multipart/related; boundary=\"b1\"\r\n\r\n" +
          s"--b1\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n$body\r\n" +
          s"--b1\r\nContent-Type: image/png\r\nContent-Transfer-Encoding: base64\r\n" +
          s"Content-Disposition: inline; filename=\"$name\"\r\n\r\n$png\r\n--b1--\r\n"
    }
    text(msg)
  }

  /** Apple Mail's emlx: the message's byte count, the message, a plist. */
  private def emlx(msg: Array[Byte]): Array[Byte] =
    text(f"${msg.length}%-10d\n") ++ msg ++
      text("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<plist version=\"1.0\">" +
        "<dict><key>flags</key><integer>8590195713</integer></dict></plist>\n")

  private def calendar(summary: String): Array[Byte] =
    text("BEGIN:VCALENDAR\r\nVERSION:2.0\r\nPRODID:-//graft//fixtures//EN\r\n" +
      s"BEGIN:VEVENT\r\nUID:${summary.toLowerCase}@example.org\r\n" +
      "DTSTART:20240115T180000Z\r\nDTEND:20240115T200000Z\r\n" +
      s"SUMMARY:$summary\r\nEND:VEVENT\r\nEND:VCALENDAR\r\n")

  /** One second of a 16-bit mono sine tone at `hz`. */
  private def wav(hz: Int, rate: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](rate * 2)
    (0 until rate).foreach { i =>
      val s = (math.sin(2 * math.Pi * hz * i / rate) * 12000).toInt
      pcm(2 * i) = s.toByte
      pcm(2 * i + 1) = (s >> 8).toByte
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, rate.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // -------------------------------------------------------------- images

  /** An 8×8 grid of dark and bright cells (which is which drawn from
    * `seed`) over a faint top-to-bottom shade. Cell means sit far from
    * the image mean, so a lossy re-encode keeps the perceptual hash, and
    * the horizontal luminance bands differ from one another. */
  private def blocks(w: Int, h: Int, seed: Int): BufferedImage = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val cell = (y * 8 / h) * 8 + x * 8 / w
      val bright = ((cell + 131L * seed) * 2654435761L % 97) < 48
      val v = (if (bright) 200 else 40) + y * 24 / h
      im.setRGB(x, y, (v << 16) | (v << 8) | (v * 9 / 10))
    }
    im
  }

  /** Frame `f` of an animation: grey rising top to bottom, brighter with
    * each frame, with faint vertical stripes. */
  private def gradientFrame(w: Int, h: Int, f: Int): BufferedImage = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = 16 + 24 * f + y * 96 / h + (x / 40 % 2) * 8
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    im
  }

  private def encode(im: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(im, format, bos), s"no $format writer")
    bos.toByteArray
  }

  /** An LZW-compressed (lossless) TIFF, one page per image. */
  private def tiff(pages: Seq[BufferedImage]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    writeSequence(writer, pages.map(p => new IIOImage(p, null, null)), param)
  }

  /** A looping GIF animation, 100 ms per frame. */
  private def gif(frames: Seq[BufferedImage]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val meta = writer.getDefaultImageMetadata(
      ImageTypeSpecifier.createFromRenderedImage(frames.head), null)
    val format = meta.getNativeMetadataFormatName
    val root = meta.getAsTree(format).asInstanceOf[IIOMetadataNode]
    val gce = new IIOMetadataNode("GraphicControlExtension")
    gce.setAttribute("disposalMethod", "none")
    gce.setAttribute("userInputFlag", "FALSE")
    gce.setAttribute("transparentColorFlag", "FALSE")
    gce.setAttribute("delayTime", "10")
    gce.setAttribute("transparentColorIndex", "0")
    root.appendChild(gce)
    val apps = new IIOMetadataNode("ApplicationExtensions")
    val loop = new IIOMetadataNode("ApplicationExtension")
    loop.setAttribute("applicationID", "NETSCAPE")
    loop.setAttribute("authenticationCode", "2.0")
    loop.setUserObject(bytes(1, 0, 0))
    apps.appendChild(loop)
    root.appendChild(apps)
    meta.setFromTree(format, root)
    writeSequence(writer, frames.map(f => new IIOImage(f, null, meta)), null)
  }

  private def writeSequence(writer: javax.imageio.ImageWriter, images: Seq[IIOImage],
                            param: ImageWriteParam): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      images.foreach(writer.writeToSequence(_, param))
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }
}
