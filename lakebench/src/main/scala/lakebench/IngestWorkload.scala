package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.{GraftArchive, GraftDataset}

/** Seeded source tree over a 3-level directory tree and a dozen
  * extensions. A batch of `n` new files always has the same size
  * multiset — the `n` stratified quantiles of log-uniform 1 KiB..256 KiB —
  * and every 20th file duplicates an earlier file's bytes, so seeds vary
  * names, placement and content but not the amount of work.
  * `manifest` is the generator's own truth: key -> (sha1, size). */
final class SourceTree(val root: Path, seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  val manifest = mutable.LinkedHashMap[String, (String, Long)]()
  private val contents = mutable.ArrayBuffer[Array[Byte]]()
  private var serial = 0
  private val exts = Seq("pdf", "txt", "html", "csv", "json", "xml", "png",
    "jpg", "docx", "xlsx", "eml", "md")

  private def sizes(n: Int): IndexedSeq[Int] = {
    val lo = math.log(1024); val hi = math.log(256 * 1024)
    val s = (0 until n).map(j => math.exp(lo + (j + 0.5) / n * (hi - lo)).toInt).toArray
    for (j <- s.indices.reverse) {
      val k = rnd.nextInt(j + 1); val t = s(j); s(j) = s(k); s(k) = t
    }
    s.toIndexedSeq
  }

  private def content(size: Int, dup: Boolean): Array[Byte] =
    if (dup && contents.nonEmpty) contents(rnd.nextInt(contents.size))
    else {
      val b = new Array[Byte](size)
      rnd.nextBytes(b)
      contents += b
      b
    }

  private def write(key: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(key)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map("%02x".format(_)).mkString
    manifest(key) = (sha, bytes.length.toLong)
  }

  private def newKey(): String = {
    serial += 1
    val depth = 1 + rnd.nextInt(3)
    val dirs = (1 to depth).map(l => s"l$l-${rnd.nextInt(4)}")
    (dirs :+ s"f$serial.${exts(rnd.nextInt(exts.size))}").mkString("/")
  }

  def add(n: Int): Seq[String] = sizes(n).zipWithIndex.map { case (size, j) =>
    val k = newKey(); write(k, content(size, j % 20 == 19)); k
  }

  /** One version's untimed mutation: returns the expected `+`/`-` diff
    * lines of (key, sha1, size). */
  def mutate(nAdd: Int, nModify: Int, nDelete: Int): Seq[String] = {
    val keys = manifest.keys.toIndexedSeq
    val picked = mutable.LinkedHashSet[String]()
    while (picked.size < math.min(keys.size, nModify + nDelete))
      picked += keys(rnd.nextInt(keys.size))
    val (mod, del) = picked.toSeq.splitAt(nModify)
    val lines = mutable.ArrayBuffer[String]()
    def line(op: String, k: String) = {
      val (s, n) = manifest(k); s"$op$k,$s,$n"
    }
    mod.zip(sizes(mod.size)).foreach { case (k, size) =>
      lines += line("-", k); write(k, content(size, dup = false)); lines += line("+", k)
    }
    del.foreach { k =>
      lines += line("-", k); Files.delete(root.resolve(k)); manifest.remove(k)
    }
    add(nAdd).foreach(k => lines += line("+", k))
    lines.toSeq.sorted
  }

  def totalBytes: Long = manifest.values.map(_._2).sum
  def randomKey(): String = {
    val keys = manifest.keys.toIndexedSeq
    keys(rnd.nextInt(keys.size))
  }
}

/** The dataset half of `lifecycle`: the reference's dataset lifecycle —
  * crawl, versioned make rounds with diffs, entities, catalog — with point
  * reads interleaved. */
final class IngestWorkload(o: Opts) extends Workload {
  import IngestWorkload._
  private val files = if (o.smoke) 40 else 80
  private val warmFiles = 5
  private val rounds = 2
  private val lookupsPerVersion = if (o.smoke) 2 else 3
  private var generated: Option[SourceTree] = None

  /** The first timed pass's source tree; later passes generate their
    * own, untimed. */
  def generate(h: Harness, dir: String): Unit = {
    generated.foreach(t => Du.delete(t.root.toFile))
    val t = new SourceTree(Paths.get(dir), o.seed * 1000003L)
    t.add(files)
    generated = Some(t)
    h.sizes("files") = files
    h.sizes("source_mb") = t.totalBytes / 1e6
  }

  /** Warm-up: one short lifecycle (two make rounds, one lookup per
    * version) over a small tree of its own, so that the timed pass meets a
    * JVM and session that have already run every code path of the pass:
    * a cold crawl costs about 4x a warm one, independently of size, and
    * `make` still sped up by a third over its first three calls. */
  def bootstrap(h: Harness): Unit = {
    val base = Paths.get(s"${o.work}/ingest/warm")
    val tree = h.untimed {
      val t = new SourceTree(base.resolve("src"), o.seed * 1000003L - 1)
      t.add(warmFiles); t
    }
    lifecycle(h, tree, base, rounds = 2, lookupsPerVersion = 1)
    h.sizes("warmup_files") = warmFiles
  }

  def pass(h: Harness, i: Int): Unit = {
    val base = Paths.get(s"${o.work}/ingest/p$i")
    val tree = generated.filter(_ => i == 0).getOrElse(h.untimed {
      val t = new SourceTree(base.resolve("src"), o.seed * 1000003L + i)
      t.add(files); t
    })
    lifecycle(h, tree, base, rounds, lookupsPerVersion)
    h.sizes("versions_per_pass") = rounds + 1
    h.sizes("lookups_per_pass") = lookupsPerVersion * (rounds + 1)
  }

  /** One dataset lifecycle on a fresh lake under `base`: crawl, `rounds`
    * mutate + make versions (each checked against the generator's
    * manifest), entities and the catalog, with lookups after every
    * version. Deletes the lake and the tree afterwards. */
  private def lifecycle(h: Harness, tree: SourceTree, base: Path, rounds: Int,
                        lookupsPerVersion: Int): Unit = {
    val lake = base.resolve("lake").toString
    val src = tree.root
    val ds = new GraftArchive(h.spark, lake).dataset("ds")
    val srcBytes = tree.totalBytes
    h.op(crawlSpan)(ds.crawl(src.toString, versionTs = ts(0)))
      .foreach { case (_, ms) => h.sample("crawl_mb_per_s", srcBytes / 1e6 / (ms / 1e3)) }
    verify(h, ds, tree, ts(0), tree.manifest.toSeq.sorted
      .map { case (k, (s, n)) => s"+$k,$s,$n" }.sorted)
    lookups(h, ds, tree, lookupsPerVersion)
    (1 to rounds).foreach { r =>
      val n = tree.manifest.size
      val expected = h.untimed(tree.mutate(math.max(1, n / 50),
        math.max(1, n / 50), math.max(1, n / 100)))
      h.op(makeSpan)(ds.make(src.toString, versionTs = ts(r)))
      verify(h, ds, tree, ts(r), expected)
      lookups(h, ds, tree, lookupsPerVersion)
    }
    h.op(writeEntitiesSpan)(ds.writeEntities())
    h.op(makeCatalogSpan)(new GraftArchive(h.spark, lake).makeCatalog())
      .foreach { case (cat, _) =>
        h.check("ingest catalog")({
          val r = cat.collect().head
          r.getLong(1) == tree.manifest.size && r.getLong(2) == tree.totalBytes
        }, s"catalog row differs from ${tree.manifest.size} files, ${tree.totalBytes} bytes")
      }
    h.untimed {
      h.sample("archive_mb", Du.bytes(new java.io.File(lake)) / 1e6)
      Du.delete(base.toFile)
      Du.delete(src.toFile)
    }
  }

  private def ts(round: Int): String = f"2001-01-01T01-$round%02d-00.000"

  /** documents == the generator's manifest; versionDiff == the change
    * set; index.json's total size == the sum of sizes. */
  private def verify(h: Harness, ds: GraftDataset, tree: SourceTree,
                     version: String, expectedDiff: Seq[String]): Unit = {
    h.check("ingest documents == manifest")({
      val got = h.observed(ds.documents.select("key", "content_hash", "size")
        .collect().map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
        .toSeq).toMap
      got == tree.manifest.toMap
    }, s"documents table differs from the generator's manifest at $version")
    h.op(versionDiffSpan)(ds.versionDiff(version)).foreach {
      case (lines, _) =>
        h.check("ingest versionDiff == change set")(lines == expectedDiff,
          s"$version: ${lines.size} diff lines vs ${expectedDiff.size} expected")
    }
    h.check("ingest index.json total size")({
      val js = new String(Files.readAllBytes(Paths.get(s"${ds.metaRoot}/index.json")), "UTF-8")
      "\"total_file_size\":(\\d+)".r.findFirstMatchIn(js)
        .exists(_.group(1).toLong == tree.totalBytes)
    }, s"index.json total_file_size != ${tree.totalBytes} at $version")
  }

  private def lookups(h: Harness, ds: GraftDataset, tree: SourceTree,
                      n: Int): Unit = (1 to n).foreach { j =>
    val key = h.untimed(if (j == n) s"absent/k$j.txt" else tree.randomKey())
    h.op(lookupSpan)(ds.lookup(key)).foreach { case (got, _) =>
      val want = tree.manifest.get(key)
      h.check("ingest lookup == manifest")(
        got.map(m => (m("x-graft-sha1"), m("x-graft-size").toLong)) == want,
        s"lookup($key) = $got, manifest has $want")
    }
  }

  /** Lookup and `make` latencies are the `lookup` and `make` spans of a
    * traced run. */
  def figures(h: Harness): Map[String, (Double, String, Int)] = {
    val crawl = h.samplesOf("crawl_mb_per_s"); val archive = h.samplesOf("archive_mb")
    Map(
      "ingest_mb_per_s" -> (Stats.median(crawl), "MB/s", crawl.size),
      "archive_mb" -> (Stats.median(archive), "MB", archive.size))
  }
}

object IngestWorkload {
  val crawlSpan = "GraftDataset.crawl"
  val makeSpan = "GraftDataset.make"
  val versionDiffSpan = "GraftDataset.versionDiff"
  val lookupSpan = "GraftDataset.lookup"
  val writeEntitiesSpan = "GraftDataset.writeEntities"
  val makeCatalogSpan = "GraftArchive.makeCatalog"
  val spanNames: Seq[String] = Seq(crawlSpan, makeSpan, versionDiffSpan,
    lookupSpan, writeEntitiesSpan, makeCatalogSpan)
}
