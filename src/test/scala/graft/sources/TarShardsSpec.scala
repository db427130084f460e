package graft.sources

import graft.SparkSpec

class TarShardsSpec extends SparkSpec {

  private def lawByte(s: Int, i: Int, j: Int): Int = (7 * j + 13 * i + 19 * s) % 251

  /** 512-byte ustar header. `size` rendered as 11-digit octal + NUL
    * (the escape, not a raw byte — keeps this source file text). */
  private def header(name: String, size: Long, typeflag: Char,
                     prefix: String = ""): Array[Byte] = {
    val h = new Array[Byte](512)
    name.getBytes("UTF-8").copyToArray(h, 0)
    ("%011o".format(size) + "\u0000").getBytes("US-ASCII").copyToArray(h, 124)
    h(156) = typeflag.toByte
    if (prefix.nonEmpty) prefix.getBytes("UTF-8").copyToArray(h, 345)
    h
  }

  private def padded(data: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOf(data, ((data.length + 511) / 512) * 512)

  test("committed fixture parses to the law: names, sizes, bytes") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("fixtures/tarshard/shard-000.tar"))
    val entries = TarShards.parseTar(bytes)
    assert(entries.map(_._1) == (0 until 10).map(i => f"doc_0_$i%03d.txt"))
    assert(entries.map(_._2.length) == (0 until 10).map(i => 64 + 16 * i))
    val (_, d3) = entries(3)
    assert(d3.zipWithIndex.forall { case (b, j) => (b & 0xff) == lawByte(0, 3, j) })
  }

  test("synthetic archive: directory entries skipped, data stepping + termination") {
    val payload = Array.tabulate[Byte](700)(j => (j % 97).toByte) // spans 2 blocks
    val tar = header("some/dir/", 0, '5') ++
      header("a.bin", 700, '0') ++ padded(payload) ++
      header("skip.lnk", 0, '2') ++
      new Array[Byte](1024) // two zero blocks terminate
    val entries = TarShards.parseTar(tar)
    assert(entries.map(_._1) == Seq("a.bin"))
    assert(entries.head._2.sameElements(payload))
  }

  test("ustar prefix field extends the 100-byte name") {
    val dir = "deep/" * 25 // 125 chars of directory prefix
    val tar = header("leaf.bin", 3, '0', prefix = dir.stripSuffix("/")) ++
      padded(Array[Byte](1, 2, 3)) ++ new Array[Byte](1024)
    val entries = TarShards.parseTar(tar)
    assert(entries.map(_._1) == Seq(dir + "leaf.bin"))
  }

  test("GNU 'L' long-name header applies to the following entry only") {
    val longName = "sample/" + "y" * 120 + ".img"
    val nameBytes = (longName + "\u0000").getBytes("UTF-8")
    val tar = header("././@LongLink", nameBytes.length, 'L') ++ padded(nameBytes) ++
      header("truncated_name.img", 2, '0') ++ padded(Array[Byte](7, 8)) ++
      header("plain.txt", 1, '0') ++ padded(Array[Byte](9)) ++
      new Array[Byte](1024)
    val entries = TarShards.parseTar(tar)
    assert(entries.map(_._1) == Seq(longName, "plain.txt"))
    assert(entries.head._2.sameElements(Array[Byte](7, 8)))
  }

  test("PAX 'x' header: path and size records override the next entry") {
    val longName = "pax/" + "z" * 130 + ".json"
    // real payload is 5 bytes but the ustar field says 0 — the PAX
    // size record must win for both the copy and the block stepping
    val rec1 = s" path=$longName\n"
    val rec2 = " size=5\n"
    def fmt(r: String): String = { // length counts itself
      var l = r.length + 1
      while ((l.toString.length + r.length) != l) l = r.length + l.toString.length
      l.toString + r
    }
    val pax = (fmt(rec1) + fmt(rec2)).getBytes("UTF-8")
    val tar = header("PaxHeaders/x", pax.length, 'x') ++ padded(pax) ++
      header("short", 0, '0') ++ padded(Array[Byte](1, 2, 3, 4, 5)) ++
      header("after.txt", 1, '0') ++ padded(Array[Byte](6)) ++
      new Array[Byte](1024)
    val entries = TarShards.parseTar(tar)
    assert(entries.map(_._1) == Seq(longName, "after.txt"))
    assert(entries.head._2.sameElements(Array[Byte](1, 2, 3, 4, 5)))
  }

  test("oversize and truncated archives fail loudly, no fabricated bytes") {
    // GNU base-256 size field declaring 8 GiB
    val big = header("huge.bin", 0, '0')
    big(124) = 0x81.toByte // base-256 marker, value 1 << (8*11) way over
    val e1 = intercept[IllegalArgumentException] {
      TarShards.parseTar(big ++ new Array[Byte](1024))
    }
    assert(e1.getMessage.contains("JVM array limit"))
    // size says 700 but the archive ends after one data block
    val trunc = header("cut.bin", 700, '0') ++ new Array[Byte](512)
    val e2 = intercept[IllegalArgumentException] {
      TarShards.parseTar(trunc)
    }
    assert(e2.getMessage.contains("truncated"))
  }

  test("base-256 size field that would WRAP a Long fails loudly, not mis-slice") {
    // 0x81 then 11 zero bytes = 2^88: the naive shift loop wraps this
    // to 0, which would slip past every size guard and mis-slice all
    // later payloads — the overflow check must throw instead
    val h = header("wrap.bin", 0, '0')
    h(124) = 0x81.toByte
    for (k <- 125 until 136) h(k) = 0
    val e = intercept[IllegalArgumentException] {
      TarShards.parseTar(h ++ new Array[Byte](1024))
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("PAX 'g' global path is ignored — entries keep their own names") {
    // an archive carrying a global `path` must NOT collapse every
    // subsequent entry name onto one string (GNU-tar semantics)
    val rec = " path=everything.bin\n"
    var l = rec.length + 1
    while ((l.toString.length + rec.length) != l) l = rec.length + l.toString.length
    val pax = (l.toString + rec).getBytes("UTF-8")
    val tar = header("PaxHeaders/g", pax.length, 'g') ++ padded(pax) ++
      header("a.txt", 1, '0') ++ padded(Array[Byte](1)) ++
      header("b.txt", 1, '0') ++ padded(Array[Byte](2)) ++
      new Array[Byte](1024)
    assert(TarShards.parseTar(tar).map(_._1) == Seq("a.txt", "b.txt"))
  }

  test("duplicate extension within one sample run throws, not silently drops") {
    val e = Seq(
      "s1.img" -> Array[Byte](1), "s1.json" -> Array[Byte](2),
      "s1.img" -> Array[Byte](3)) // same ext, same adjacency run
    val ex = intercept[IllegalArgumentException] {
      TarShards.assembleSamples(e)
    }
    assert(ex.getMessage.contains("duplicate extension"))
  }

  test("sampleKey: first dot of the basename splits key from ext") {
    assert(TarShards.sampleKey("a/b.seg.png") == ("a/b", "seg.png"))
    assert(TarShards.sampleKey("v0.1/c.img") == ("v0.1/c", "img"))
    assert(TarShards.sampleKey("noext") == ("noext", ""))
  }

  test("assembleSamples: adjacency groups, recurring key starts a new sample") {
    val e = Seq(
      "s1.img" -> Array[Byte](1), "s1.json" -> Array[Byte](2),
      "s2.img" -> Array[Byte](3),
      "s1.img" -> Array[Byte](4)) // non-adjacent recurrence = NEW sample
    val samples = TarShards.assembleSamples(e)
    assert(samples.map(_._1) == Seq("s1", "s2", "s1"))
    assert(samples.head._2.map(_._1) == Seq("img", "json"))
  }

  test("encodeTar inverts parseTar, including PAX long names and checksummed headers") {
    val longName = "wds/" + "k" * 140 + ".img"
    val entries = Seq(
      "a.txt" -> Array[Byte](1, 2, 3),
      longName -> Array.tabulate[Byte](700)(j => (j % 53).toByte),
      "b.json" -> Array.empty[Byte])
    val bytes = TarShards.encodeTar(entries)
    assert(bytes.length % 512 == 0)
    val back = TarShards.parseTar(bytes)
    assert(back.map(_._1) == entries.map(_._1))
    assert(back.zip(entries).forall { case ((_, d1), (_, d2)) => d1.sameElements(d2) })
    // header checksum is real: recompute over the first header with the
    // chksum field blanked to spaces, compare to the stored octal
    val h = java.util.Arrays.copyOf(bytes, 512)
    val stored = Integer.parseInt(new String(h, 148, 6, "US-ASCII"), 8)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    assert(h.map(_ & 0xff).sum == stored)
  }

  test("python tarfile reads our encoded shard — interop closed in both directions") {
    // the committed fixture already proves python-written -> our parser;
    // this proves our encoder -> a standard reader, incl. a PAX long name
    val longName = "wds/" + "k" * 140 + ".img"
    val bytes = TarShards.encodeTar(Seq(
      "a.txt" -> Array[Byte](1, 2, 3), longName -> Array[Byte](9)))
    val f = graft.TempDirs.create("enc").resolve("enc.tar")
    java.nio.file.Files.write(f, bytes)
    import scala.sys.process._
    val out = Seq("python3", "-c",
      "import tarfile\n" +
        s"ms = tarfile.open('$f').getmembers()\n" +
        "print(';'.join(f'{m.name}:{m.size}' for m in ms))").!!.trim
    assert(out == s"a.txt:3;$longName:1", out)
  }

  test("writeShards + readSamples closed loop on a tiny sample frame") {
    import spark.implicits._
    val d = graft.TempDirs.create("wshard").toFile.getAbsolutePath
    val df = Seq(
      ("s-0.tar", "k1", Seq("img", "json"),
        Map("img" -> Array[Byte](1, 2), "json" -> Array[Byte](3))),
      ("s-0.tar", "k0", Seq("txt"), Map("txt" -> Array[Byte](4, 5, 6))),
      ("s-1.tar", "k2", Seq("img"), Map("img" -> Array[Byte](7)))
    ).toDF("shard", "key", "exts", "entries")
    TarShards.writeShards(df, d)
    val back = TarShards.readSamples(spark, d)
      .collect().map(r => (r.getString(0), r.getString(2),
        r.getSeq[String](3), r.getMap[String, Array[Byte]](4)))
    // key-sorted within shard; entries adjacent in exts order
    assert(back.map(t => (t._1, t._2)).sorted.toSeq ==
      Seq(("s-0.tar", "k0"), ("s-0.tar", "k1"), ("s-1.tar", "k2")))
    val k1 = back.find(_._2 == "k1").get
    assert(k1._3 == Seq("img", "json") && k1._4("img").sameElements(Array[Byte](1, 2)))
  }

  test("gzip shards: write .tar.gz, python tarfile and readSamples both inflate") {
    import spark.implicits._
    val d = graft.TempDirs.create("gzshard").toFile.getAbsolutePath
    val df = Seq(
      ("z-0.tar.gz", "k0", Seq("txt"), Map("txt" -> Array[Byte](4, 5, 6))),
      ("z-0.tar.gz", "k1", Seq("img"), Map("img" -> Array[Byte](7)))
    ).toDF("shard", "key", "exts", "entries")
    TarShards.writeShards(df, d)
    // magic check: the file on disk IS gzip, not a renamed raw tar
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d, "z-0.tar.gz"))
    assert((raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
    // a standard reader inflates it (tarfile auto-detects gzip)
    import scala.sys.process._
    val out = Seq("python3", "-c",
      "import tarfile\n" +
        s"ms = tarfile.open('$d/z-0.tar.gz').getmembers()\n" +
        "print(';'.join(f'{m.name}:{m.size}' for m in ms))").!!.trim
    assert(out == "k0.txt:3;k1.img:1", out)
    // and our own scan round-trips the payloads
    val back = TarShards.readSamples(spark, d, "*.tar.gz")
      .collect().map(r => (r.getString(2), r.getMap[String, Array[Byte]](4)))
    assert(back.map(_._1).sorted.toSeq == Seq("k0", "k1"))
    assert(back.find(_._1 == "k0").get._2("txt").sameElements(Array[Byte](4, 5, 6)))
    // the STREAMING ingest shares the gunzip-aware entry point, so
    // compressed shards arrive identically through the file stream
    val graft.streaming.StreamOps.Drained(streamed, _, batches) =
      graft.streaming.StreamOps.tarSampleIngest(spark, d, "*.tar.gz")
    assert(streamed.count() == 2 && batches >= 1)
  }

  test("reshardBySize: boundary-by-start-offset bins, closed loop through the sink") {
    import spark.implicits._
    // each sample is one 300-byte entry → footprint 512 (header) +
    // 512 (padded payload) = 1024; target 2048 → group g bins k0,k1
    // into shard 0 and k2,k3 into shard 1; group h's lone sample gets
    // its own shard 0
    def s(k: String, g: String) =
      (g, k, Seq("bin"), Map("bin" -> Array.tabulate[Byte](300)(_.toByte)))
    val df = Seq(s("k0", "g"), s("k1", "g"), s("k2", "g"), s("k3", "g"),
      s("k9", "h")).toDF("group", "key", "exts", "entries")
    val sharded = TarShards.reshardBySize(df, 2048L)
    val assign = sharded.select("key", "shard").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(assign == Map(
      "k0" -> "g-00000.tar", "k1" -> "g-00000.tar",
      "k2" -> "g-00001.tar", "k3" -> "g-00001.tar",
      "k9" -> "h-00000.tar"))
    val d = graft.TempDirs.create("reshard").toFile.getAbsolutePath
    TarShards.writeShards(sharded, d)
    val back = TarShards.readSamples(spark, d)
    assert(back.count() == 5)
    assert(back.select("shard").distinct().count() == 3)
  }

  test("distributed scan: one row per entry, shard/idx/n_bytes columns") {
    val df = TarShards.readTarDir(spark, "fixtures/tarshard")
    val rows = df.select("shard", "idx", "n_bytes").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 20)
    assert(rows.filter(_._1 == "shard-001.tar").map(_._3).sorted.toSeq ==
      (0 until 10).map(i => 64L + 16 * i + 8).sorted)
  }

  test("readSamples over the samples fixture: assembly + long keys via PAX and GNU") {
    val df = TarShards.readSamples(spark, "fixtures/tarshard/samples")
    val rows = df.collect().map { r =>
      (r.getString(0), r.getInt(1), r.getString(2),
        r.getSeq[String](3), r.getMap[String, Array[Byte]](4))
    }
    assert(rows.length == 12) // 2 shards x 6 samples
    // a sample split across three entry types assembles into one row
    val (_, _, k0, exts0, ent0) =
      rows.find(t => t._1 == "sample-000.tar" && t._2 == 0).get
    assert(k0 == "k0_00" && exts0 == Seq("img", "json", "txt"))
    assert(ent0("txt").length == 48 + 4 * 2) // n = 48 + 8*0 + 4*2 + 2*0
    assert(ent0("img").zipWithIndex.forall { case (b, j) =>
      (b & 0xff) == (5 * j) % 251 })
    // the 116-char keys survive both long-name encodings
    val longKeys = rows.filter(_._3.length > 100)
    assert(longKeys.map(t => (t._1, t._3)).sorted.toSeq == Seq(
      ("sample-000.tar", "k0_05_" + "x" * 110),
      ("sample-001.tar", "k1_05_" + "x" * 110)))
    assert(longKeys.forall(_._4 == Seq("img", "json")))
  }
}
