package graft.sources

import graft.SparkTestSession.{spark, withTempDir}
import org.scalatest.funsuite.AnyFunSuite

/** A FileSystem scheme that exists ONLY through a `fs.stubfs.impl` conf
  * entry (no service-loader registration, no core-site.xml) — local disk
  * underneath, so resolving it anywhere proves the resolving side looked
  * at a conf that carries the session's settings. Hadoop instantiates it
  * reflectively; must stay public with a no-arg constructor.
  */
class StubFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "stubfs"
  override def getUri: java.net.URI = java.net.URI.create("stubfs:///")
}

/** The TFRecord framing must be byte-exact against the published spec —
  * these files claim interop with every other TFRecord consumer, so the
  * laws are pinned independently of our own encoder/decoder pair.
  */
class TfRecordsSpec extends AnyFunSuite {

  test("CRC32C is Castagnoli (known-answer) and the mask follows the spec") {
    // the standard CRC-32C check value: crc32c("123456789") = 0xe3069283
    val check = "123456789".getBytes("UTF-8")
    val c = new java.util.zip.CRC32C
    c.update(check, 0, check.length)
    assert(c.getValue == 0xe3069283L)
    // mask law: ((crc >>> 15) | (crc << 17)) + 0xa282ead8 in 32-bit
    val crc = c.getValue
    val expected =
      ((((crc >>> 15) | (crc << 17)) & 0xffffffffL) + 0xa282ead8L & 0xffffffffL).toInt
    assert(TfRecords.maskedCrc(check, 0, check.length) == expected)
  }

  test("framing layout: length field LE, 16 overhead bytes, empty record legal") {
    val data = Array[Byte](1, 2, 3, 4, 5)
    val rec = TfRecords.encodeRecord(data)
    assert(rec.length == 16 + data.length)
    val len = java.nio.ByteBuffer.wrap(rec, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert(len == data.length.toLong)
    assert(rec.slice(12, 12 + data.length).sameElements(data))
    // empty payload frames to exactly the 16 overhead bytes
    assert(TfRecords.encodeRecord(Array.emptyByteArray).length == 16)
  }

  test("encode/decode round-trips multi-record files; corruption throws") {
    val recs = Seq(
      Array.emptyByteArray,
      "hello".getBytes("UTF-8"),
      Array.tabulate(1000)(i => (i % 251).toByte))
    val file = recs.map(TfRecords.encodeRecord).reduce(_ ++ _)
    val back = TfRecords.decodeAll(file)
    assert(back.length == recs.length)
    assert(back.zip(recs).forall { case (a, b) => a.sameElements(b) })
    assert(TfRecords.decodeAll(Array.emptyByteArray).isEmpty)
    // flip one payload byte → the data CRC must catch it
    val corrupt = file.clone()
    corrupt(16 + 12) = (corrupt(16 + 12) ^ 0x01).toByte // record 2's first byte
    intercept[IllegalArgumentException](TfRecords.decodeAll(corrupt))
    // truncate mid-record → framing error, not silent loss
    intercept[IllegalArgumentException](TfRecords.decodeAll(file.dropRight(1)))
  }

  test("Spark write/read round-trips shards with per-file ordinals") {
    import spark.implicits._
    val rows = (0L until 257L).map(i => s"payload-$i".getBytes("UTF-8"))
    val df = rows.toDF("rec").repartition(4)
    withTempDir("graft-tfrec-spec") { tmp =>
      val path = tmp.toString
      TfRecords.write(df, "rec", path)
      // one shard per partition
      assert(new java.io.File(path).listFiles()
        .count(_.getName.endsWith(".tfrecord")) == 4)
      val back = TfRecords.read(spark, path)
        .selectExpr("file", "rec_idx", "cast(record as string) as s").collect()
      assert(back.length == 257)
      assert(back.map(_.getString(2)).toSet == rows.map(new String(_, "UTF-8")).toSet)
      // ordinals are dense per file, starting at 0 — the only identity the
      // format itself carries
      back.groupBy(_.getString(0)).foreach { case (_, rs) =>
        assert(rs.map(_.getLong(1)).sorted.sameElements(0L until rs.length))
      }
      // overwrite semantics: a second write with fewer partitions replaces
      // the old shards instead of accumulating
      TfRecords.write(df.limit(10).repartition(1), "rec", path)
      assert(TfRecords.read(spark, path).count() == 10)
    }
  }

  test("readLenient survives a corrupt shard: keeps the prefix, flags the file") {
    import spark.implicits._
    val rows = (0L until 20L).map(i => s"rec-$i".getBytes("UTF-8"))
    withTempDir("graft-tfrec-lenient") { tmp =>
      val path = tmp.toString
      TfRecords.write(rows.toDF("rec").repartition(2), "rec", path)
      // flip a payload byte midway through ONE shard
      val shard = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).minBy(_.getName)
      val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
      java.nio.file.Files.write(shard.toPath, bytes)
      // drop Hadoop LocalFileSystem's sidecar checksum so the corruption
      // reaches OUR frame CRCs (a real object store has no sidecar layer)
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      // strict read throws; lenient read returns the other shard complete
      // plus the corrupt shard's verified prefix, flagged unclean
      intercept[org.apache.spark.SparkException](
        TfRecords.read(spark, path).count())
      val back = TfRecords.readLenient(spark, path).collect()
      val byClean = back.groupBy(_.getBoolean(3))
      assert(byClean(true).nonEmpty, "the intact shard must read clean")
      assert(byClean(false).nonEmpty, "the corrupt shard must surface flagged")
      assert(back.length < 20, "the corrupt frame's tail cannot be recovered")
      assert(back.filter(!_.isNullAt(2))
        .forall(r => new String(r.getAs[Array[Byte]](2), "UTF-8").startsWith("rec-")))
      // decodeLenient law: a file whose FIRST frame is bad still surfaces
      val (recs, clean) = TfRecords.decodeLenient(Array[Byte](1, 2, 3))
      assert(recs.isEmpty && !clean)
    }
  }

  test("the session Hadoop conf rides into task closures " +
    "(spark.hadoop.* reaches executor-side FS lookups — ADVICE r12)") {
    // The carrier is the mechanism write()/read() ship the driver's
    // hadoopConfiguration with; a bare `new Configuration()` on the
    // executor (the pre-r13 bug) would read MISSING here, because
    // programmatic spark.hadoop.* settings live only in the session conf.
    val marker = "graft.test.tfrec.marker"
    spark.sparkContext.hadoopConfiguration.set(marker, "rode-along")
    try {
      val hconf = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val seen = spark.range(0, 4, 1, 2).rdd
        .mapPartitions(_ => Iterator(hconf.value.get(marker, "MISSING")))
        .collect().toSeq
      assert(seen == Seq("rode-along", "rode-along"))
    } finally spark.sparkContext.hadoopConfiguration.unset(marker)
  }

  test("write/read work on a scheme that exists ONLY in the session conf " +
    "(fs.stubfs.impl — the S3A-shaped cluster scenario)") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.stubfs.impl", classOf[StubFs].getName)
    try {
      withTempDir("graft-stubfs") { tmp =>
        val dir = tmp.toString
        val path = "stubfs://" + dir
        val rows = (0L until 40L).map(i => s"s3ish-$i".getBytes("UTF-8"))
        TfRecords.write(rows.toDF("rec").repartition(2), "rec", path)
        val back = TfRecords.read(spark, path)
          .selectExpr("cast(record as string) as s").collect().map(_.getString(0))
        assert(back.toSet == rows.map(new String(_, "UTF-8")).toSet)
        // the shards really landed where the conf-mapped scheme points
        assert(new java.io.File(dir).listFiles()
          .count(_.getName.endsWith(".tfrecord")) == 2)
      }
    } finally hc.unset("fs.stubfs.impl")
  }

  test("a 96 MiB shard streams record-at-a-time (the binaryFile 2 GiB " +
    "cap and whole-file allocation are gone — VERDICT r12 #5)") {
    // Written straight to disk: 96 × 1 MiB records. The streamed read
    // allocates one record per readRecord call by construction
    // (TfRecords.readRecord) — task memory is a record, never a file, so
    // shard size is unbounded; this pins the path on a shard big enough
    // that per-file buffering would be felt, small enough for the suite.
    withTempDir("graft-tfrec-big") { dir =>
      val f = dir.resolve("part-00000.tfrecord")
      val out = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(f), 1 << 20)
      val rec = new Array[Byte](1 << 20)
      for (i <- 0 until 96) {
        java.util.Arrays.fill(rec, (i % 251).toByte)
        out.write(TfRecords.encodeRecord(rec))
      }
      out.close()
      val got = TfRecords.read(spark, dir.toString)
        .selectExpr("count(*) as n", "sum(length(record)) as bytes")
        .collect()(0)
      assert(got.getLong(0) == 96L)
      assert(got.getLong(1) == 96L << 20)
      // and rec_idx stays the positional identity on the big shard
      val idx = TfRecords.read(spark, dir.toString)
        .selectExpr("min(rec_idx) as lo", "max(rec_idx) as hi").collect()(0)
      assert(idx.getLong(0) == 0L && idx.getLong(1) == 95L)
    }
  }

  test("shards commit via task-attempt temp + rename: no .inprogress " +
    "litter survives a write (ADVICE r12)") {
    import spark.implicits._
    val rows = (0L until 30L).map(i => s"c-$i".getBytes("UTF-8"))
    withTempDir("graft-tfrec-commit") { tmp =>
      val path = tmp.toString
      TfRecords.write(rows.toDF("rec").repartition(3), "rec", path)
      val names = new java.io.File(path).listFiles().map(_.getName)
      assert(!names.exists(_.contains(".inprogress")), names.mkString(", "))
      assert(names.count(_.endsWith(".tfrecord")) == 3)
      // and a stray .inprogress temp (zombie attempt) is invisible to reads
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, ".part-00000.tfrecord.99.inprogress"),
        Array[Byte](1, 2, 3))
      assert(TfRecords.read(spark, path).count() == 30)
    }
  }

  test("gzip shards round-trip and mix freely with plain shards") {
    import spark.implicits._
    val rows = (0L until 50L).map(i => s"gz-$i".getBytes("UTF-8"))
    withTempDir("graft-tfrec-gz") { tmp =>
      val path = tmp.toString
      TfRecords.write(rows.toDF("rec").repartition(2), "rec", path, gzip = true)
      val files = new java.io.File(path).listFiles().map(_.getName)
      assert(files.count(_.endsWith(".tfrecord.gz")) == 2)
      // gzip really compressed a framed stream, not a rename: the file is
      // a valid gzip member (magic 1f 8b)
      val head = java.nio.file.Files.readAllBytes(
        new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".tfrecord.gz")).minBy(_.getName).toPath).take(2)
      assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
      val back = TfRecords.read(spark, path)
        .selectExpr("cast(record as string) as s").collect().map(_.getString(0))
      assert(back.toSet == rows.map(new String(_, "UTF-8")).toSet)
      // a plain shard dropped into the same directory reads alongside
      TfRecords.write(Seq("plain-0".getBytes("UTF-8")).toDF("rec").repartition(1),
        "rec", path + "/extra")
      java.nio.file.Files.move(
        new java.io.File(path + "/extra").listFiles()
          .find(_.getName.endsWith(".tfrecord")).get.toPath,
        java.nio.file.Paths.get(path, "part-99999.tfrecord"))
      assert(TfRecords.read(spark, path).count() == 51)
      // lenient read flags a shard whose GZIP STREAM is corrupt
      val gz = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord.gz")).minBy(_.getName)
      val gb = java.nio.file.Files.readAllBytes(gz.toPath)
      gb(gb.length / 2) = (gb(gb.length / 2) ^ 0x01).toByte
      java.nio.file.Files.write(gz.toPath, gb)
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      val lenient = TfRecords.readLenient(spark, path).collect()
      assert(lenient.exists(!_.getBoolean(3)), "corrupt gzip shard must flag")
      // the intact MANIFEST-CLAIMED shard reads clean; the hand-dropped
      // part-99999 is listed-but-UNCLAIMED, so with claims present it is
      // flagged as a zombie the writer never described (ADVICE r15) while
      // its verified rows still surface — corruption is data
      assert(lenient.count(_.getBoolean(3)) == 25, "the claimed intact shard reads clean")
      val unclaimed = lenient.filter(_.getString(0) == "part-99999.tfrecord")
      assert(unclaimed.length == 1 && !unclaimed(0).getBoolean(3) &&
        !unclaimed(0).isNullAt(2),
        "an unclaimed listed shard must flag but still emit its rows")
    }
  }

  test("size-weighted file→task packing: one huge shard among many " +
    "small ones cannot straggle the read (VERDICT r13 #4)") {
    // The r13 shape that motivated this: one 100 GiB-ish shard plus
    // thousands of small ones, far fewer tasks than files. Sorted
    // round-robin put the big shard AND a full stripe of small ones on
    // one task; LPT must keep the max task load within 2× of ideal
    // (Graham's bound is 4/3 — the gate leaves slack for tiny inputs).
    val skewed = (("big.tfrecord", 100000L) +:
      (1 to 999).map(i => (f"s-$i%04d.tfrecord", 100L))).toSeq
    val bins = TfRecords.packBySize(skewed, maxTasks = 16)
    assert(bins.map(_.size).sum == 1000, "every file assigned exactly once")
    assert(bins.flatten.toSet.size == 1000)
    val sizeOf = skewed.toMap
    val loads = bins.map(_.map(sizeOf).sum)
    // optimal makespan is bounded below by BOTH the mean load and the
    // largest (indivisible) file; LPT must stay within 2× of it
    val ideal = math.max(skewed.map(_._2).sum.toDouble / 16,
      skewed.map(_._2).max.toDouble)
    assert(loads.max <= 2 * ideal,
      s"max task load ${loads.max} vs ideal $ideal")
    // the big shard rides alone (round-robin would have stacked a full
    // stripe of small files on top of it), and the small files spread
    // evenly over the other 15 tasks
    assert(bins.find(_.contains("big.tfrecord")).get.size == 1)
    val smallLoads = bins.filterNot(_.contains("big.tfrecord")).map(_.map(sizeOf).sum)
    assert(smallLoads.max <= 2.0 * (999 * 100.0 / 15),
      s"small-file tasks unbalanced: ${smallLoads.max}")
    // deterministic: a rerun packs identically
    assert(TfRecords.packBySize(skewed, maxTasks = 16) == bins)
    // degenerate cases: fewer files than tasks, and the empty listing
    assert(TfRecords.packBySize(skewed.take(3), maxTasks = 16).size == 3)
    assert(TfRecords.packBySize(Seq.empty, maxTasks = 16).isEmpty)
  }

  test("writeSharded pins row→file by shard id: exactly numShards files, " +
    "each holding precisely its shard's rows (the cu16 export writer)") {
    import spark.implicits._
    // 100 rows, shard = id % 5, payload carries the shard id so the
    // on-disk placement is checkable from the bytes alone
    val df = spark.range(100)
      .selectExpr("id % 5 as shard_id",
        "cast(concat('shard=', id % 5, ';row=', id) as binary) as rec")
    withTempDir("graft-tfrec-sharded") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 5, path)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
      assert(files.length == 5, "one file per shard, no more, no less")
      // every record in part-0000K carries shard=K — hash repartition
      // CANNOT give this (it collides shard ids into shared files)
      files.zipWithIndex.foreach { case (f, k) =>
        val recs = TfRecords.decodeAll(java.nio.file.Files.readAllBytes(f.toPath))
        assert(recs.length == 20, s"${f.getName}: ${recs.length} rows")
        assert(recs.forall(r => new String(r, "UTF-8").startsWith(s"shard=$k;")),
          s"${f.getName} holds a foreign shard's row")
      }
      // and the Spark read recovers everything
      assert(TfRecords.read(spark, path).count() == 100)
      // an EMPTY shard still writes its (empty) file — shard count is a
      // contract, not an observation
      val sparse = spark.range(10)
        .selectExpr("cast(0 as long) as shard_id", "cast('x' as binary) as rec")
      withTempDir("graft-tfrec-sparse") { tmp =>
        val path2 = tmp.toString
        TfRecords.writeSharded(sparse, "rec", "shard_id", 3, path2)
        assert(new java.io.File(path2).listFiles()
          .count(_.getName.endsWith(".tfrecord")) == 3)
        // an out-of-range shard id fails the job rather than silently
        // writing a misnamed file
        val bad = spark.range(4)
          .selectExpr("id + 3 as shard_id", "cast('y' as binary) as rec")
        intercept[org.apache.spark.SparkException] {
          withTempDir("graft-tfrec-bad") { tmp =>
            TfRecords.writeSharded(bad, "rec", "shard_id", 3, tmp.toString)
          }
        }
      }
    }
  }

  test("writeShardedSorted places rows WITHIN the file by the order key " +
    "(rec_idx is the sort rank — the cu17 ordered-export contract)") {
    import spark.implicits._
    // adversarial input order: descending ids, scattered over many
    // partitions — the sink must both route AND place every row
    val df = spark.range(90)
      .selectExpr("89 - id as rid")
      .repartition(7)
      .selectExpr("rid % 3 as shard_id",
        "lpad(cast(rid as string), 6, '0') as okey",
        "cast(concat('row=', rid) as binary) as rec")
    withTempDir("graft-tfrec-sorted") { tmp =>
      val path = tmp.toString
      TfRecords.writeShardedSorted(df, "rec", "shard_id", "okey", 3, path)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
      assert(files.length == 3)
      files.zipWithIndex.foreach { case (f, k) =>
        val ids = TfRecords.decodeAll(java.nio.file.Files.readAllBytes(f.toPath))
          .map(r => new String(r, "UTF-8").stripPrefix("row=").toLong)
        assert(ids.length == 30)
        // every id in its shard, in STRICTLY ascending key order on disk
        assert(ids.forall(_ % 3 == k))
        assert(ids == ids.sorted, s"${f.getName} is out of order: $ids")
      }
      // and the Spark read agrees: rec_idx ascends with the key
      val back = TfRecords.read(spark, path)
        .selectExpr("file", "rec_idx",
          "cast(substring(cast(record as string), 5) as bigint) as rid")
        .collect()
      back.groupBy(_.getString(0)).values.foreach { rows =>
        val byIdx = rows.sortBy(_.getLong(1)).map(_.getLong(2))
        assert(byIdx.sameElements(byIdx.sorted))
      }
    }
  }

  test("tieCols make the reproducible-layout contract structural: " +
    "duplicate order keys place by the declared tie-break, and reruns " +
    "are byte-identical (VERDICT r15 #4)") {
    import spark.implicits._
    // EVERY order key collides (okey = id % 4): without a tie-break,
    // layout would be shuffle-arrival order — nondeterministic across
    // input partitionings. The declared integral tie column must order
    // NUMERICALLY (id 10 before id 9 would be the string-compare bug).
    def df(parts: Int, seed: Long) = spark.range(48)
      .selectExpr(s"pmod(id * 31 + $seed, 48) as rid").repartition(parts)
      .selectExpr("rid % 2 as shard_id",
        "lpad(cast(rid % 4 as string), 3, '0') as okey",
        "rid", "cast(concat('t=', rid) as binary) as rec")
    withTempDir("graft-tfrec-tie1") { tmp =>
      val p1 = tmp.toString
      withTempDir("graft-tfrec-tie2") { tmp =>
        val p2 = tmp.toString
        TfRecords.writeShardedSorted(df(3, 7L), "rec", "shard_id", "okey", 2, p1,
          tieCols = Seq("rid"))
        TfRecords.writeShardedSorted(df(11, 29L), "rec", "shard_id", "okey", 2, p2,
          tieCols = Seq("rid"))
        (0 until 2).foreach { k =>
          val f1 = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p1, f"part-$k%05d.tfrecord"))
          val f2 = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p2, f"part-$k%05d.tfrecord"))
          assert(java.util.Arrays.equals(f1, f2),
            s"shard $k differs between reruns with different input layouts")
          // and the on-disk order is (okey, rid) — rid compared numerically
          val ids = TfRecords.decodeAll(f1)
            .map(r => new String(r, "UTF-8").stripPrefix("t=").toLong)
          val expected = (0L until 48L).filter(_ % 2 == k)
            .sortBy(i => (i % 4, i))
          assert(ids == expected, s"shard $k order: $ids")
        }
      }
    }
  }

  test("every writer emits _manifest.json whose per-file stats equal " +
    "the bytes on disk, and the manifest is invisible to shard reads") {
    import spark.implicits._
    val rows = (0L until 60L).map(i => s"m-$i".getBytes("UTF-8"))
    withTempDir("graft-tfrec-manifest") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(
        rows.toDF("rec").selectExpr("pmod(hash(rec), 3) as shard_id", "rec"),
        "rec", "shard_id", 3, path)
      // the sidecar exists, underscore-prefixed (hidden-file convention)
      assert(new java.io.File(path, "_manifest.json").isFile)
      val m = TfRecords.readManifest(spark, path).collect()
        .map(r => r.getAs[String]("file") ->
          (r.getAs[Long]("n_records"), r.getAs[Long]("payload_bytes"),
            r.getAs[Long]("framed_bytes"))).toMap
      assert(m.size == 3)
      // claimed stats == ground truth decoded from the real files
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).foreach { f =>
          val recs = TfRecords.decodeAll(java.nio.file.Files.readAllBytes(f.toPath))
          val (n, payload, framed) = m(f.getName)
          assert(n == recs.length, s"${f.getName}: claimed $n, disk ${recs.length}")
          assert(payload == recs.map(_.length.toLong).sum)
          assert(framed == f.length, "logical framed bytes == plain file size")
        }
      // disk_bytes records each committed file's physical length — the
      // field that makes gzip claims verifiable downstream
      TfRecords.readManifest(spark, path).collect().foreach { r =>
        assert(r.getAs[Long]("disk_bytes") ==
          new java.io.File(path, r.getAs[String]("file")).length)
      }
      // the manifest never surfaces as a shard
      assert(TfRecords.read(spark, path).count() == 60)
      assert(TfRecords.readLenient(spark, path)
        .select("file").distinct().count() == 3)
      // plain write() and the sorted writer emit one too
      withTempDir("graft-tfrec-manifest2") { tmp =>
        val path2 = tmp.toString
        TfRecords.write(rows.toDF("rec").repartition(2), "rec", path2)
        assert(TfRecords.readManifest(spark, path2)
          .selectExpr("sum(n_records)").collect()(0).getLong(0) == 60L)
        withTempDir("graft-tfrec-manifest3") { tmp =>
          val path3 = tmp.toString
          TfRecords.writeShardedSorted(
            rows.toDF("rec").selectExpr("pmod(hash(rec), 2) as shard_id",
              "cast(rec as string) as okey", "rec"),
            "rec", "shard_id", "okey", 2, path3)
          assert(TfRecords.readManifest(spark, path3)
            .selectExpr("sum(n_records)").collect()(0).getLong(0) == 60L)
        }
      }
    }
  }

  test("resume rewrites ONLY the missing shards: committed files are " +
    "never touched and the manifest comes back complete (idempotent restart)") {
    import spark.implicits._
    // a 10,000-shard export that dies at 97% must not rewrite 9,700 good
    // files: rename-commit makes presence == completeness, so resume
    // filters committed shards' rows out before the shuffle and only the
    // missing shards' tasks write
    val df = spark.range(100).selectExpr("id % 5 as shard_id",
      "cast(concat('r=', id) as binary) as rec")
    withTempDir("graft-tfrec-resume") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 5, path)
      val payload0 = TfRecords.readManifest(spark, path)
        .selectExpr("sum(payload_bytes)").collect()(0).getLong(0)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
      // simulate the failed run: shards 1 and 3 missing, and NO manifest
      // (the manifest is written last, so a killed export never has one)
      java.nio.file.Files.delete(files(1).toPath)
      java.nio.file.Files.delete(files(3).toPath)
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_manifest.json"))
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      // ... and a crashed task's orphaned temp, which resume must sweep
      // (invisible to readers but near-shard-size storage leaked forever)
      val orphan = java.nio.file.Paths.get(path,
        ".part-00001.tfrecord.42.inprogress")
      java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
      // sentinel mtimes prove the survivors' bytes are never rewritten
      Seq(0, 2, 4).foreach(i => files(i).setLastModified(1000000000000L))
      TfRecords.writeSharded(df, "rec", "shard_id", 5, path, resume = true)
      Seq(0, 2, 4).foreach(i => assert(files(i).lastModified == 1000000000000L,
        s"${files(i).getName} was rewritten on resume"))
      assert(files(1).isFile && files(3).isFile, "missing shards recreated")
      assert(!java.nio.file.Files.exists(orphan),
        "resume must sweep the crashed run's .inprogress orphans")
      assert(TfRecords.read(spark, path).count() == 100)
      // manifest rebuilt complete; survivors' stats re-derived from bytes
      // (no claims survived the simulated crash)
      assert(TfRecords.readManifest(spark, path)
        .selectExpr("sum(n_records)").collect()(0).getLong(0) == 100L)
      assert(TfRecords.readManifest(spark, path)
        .selectExpr("sum(payload_bytes)").collect()(0).getLong(0) == payload0)
      // a second resume over the now-complete export is a pure no-op on
      // the shard files, and the manifest claims are reused intact
      files.foreach(_.setLastModified(1000000000000L))
      TfRecords.writeSharded(df, "rec", "shard_id", 5, path, resume = true)
      assert(files.forall(_.lastModified == 1000000000000L))
      assert(TfRecords.readManifest(spark, path)
        .selectExpr("sum(payload_bytes)").collect()(0).getLong(0) == payload0)
      // the sorted writer shares the contract: kill one ordered shard,
      // resume, and the recreated file is both present and IN ORDER
      val sdf = spark.range(60).selectExpr("id % 3 as shard_id",
        "lpad(cast(id as string), 6, '0') as okey",
        "cast(concat('s=', id) as binary) as rec")
      withTempDir("graft-tfrec-resume-sorted") { tmp =>
        val spath = tmp.toString
        TfRecords.writeShardedSorted(sdf, "rec", "shard_id", "okey", 3, spath)
        val sfiles = new java.io.File(spath).listFiles()
          .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
        java.nio.file.Files.delete(sfiles(1).toPath)
        new java.io.File(spath).listFiles()
          .filter(_.getName.endsWith(".crc")).foreach(_.delete())
        Seq(0, 2).foreach(i => sfiles(i).setLastModified(1000000000000L))
        TfRecords.writeShardedSorted(sdf, "rec", "shard_id", "okey", 3, spath,
          resume = true)
        Seq(0, 2).foreach(i => assert(sfiles(i).lastModified == 1000000000000L))
        val ids = TfRecords.decodeAll(
          java.nio.file.Files.readAllBytes(sfiles(1).toPath))
          .map(r => new String(r, "UTF-8").stripPrefix("s=").toLong)
        assert(ids.length == 20 && ids.forall(_ % 3 == 1) && ids == ids.sorted)
        // gzip resume: survivors' stats ride the PRIOR manifest's claims,
        // verified against the recorded disk_bytes (compression makes the
        // framing arithmetic useless, so disk_bytes is the gzip claim's only
        // checkable anchor) — and the missing shard still rewrites
        val gdf = spark.range(30).selectExpr("id % 3 as shard_id",
          "cast(concat('g=', id) as binary) as rec")
        withTempDir("graft-tfrec-resume-gz") { tmp =>
          val gpath = tmp.toString
          TfRecords.writeSharded(gdf, "rec", "shard_id", 3, gpath, gzip = true)
          val gfiles = new java.io.File(gpath).listFiles()
            .filter(_.getName.endsWith(".tfrecord.gz")).sortBy(_.getName)
          java.nio.file.Files.delete(gfiles(0).toPath)
          new java.io.File(gpath).listFiles()
            .filter(_.getName.endsWith(".crc")).foreach(_.delete())
          Seq(1, 2).foreach(i => gfiles(i).setLastModified(1000000000000L))
          TfRecords.writeSharded(gdf, "rec", "shard_id", 3, gpath, gzip = true,
            resume = true)
          Seq(1, 2).foreach(i => assert(gfiles(i).lastModified == 1000000000000L))
          assert(TfRecords.read(spark, gpath).count() == 30)
          assert(TfRecords.readManifest(spark, gpath)
            .selectExpr("sum(n_records)").collect()(0).getLong(0) == 30L)
        }
      }
    }
  }

  test("readLenient cross-checks record counts against _manifest.json: a " +
    "CRC-clean gzip shard swap flags exactly that file (VERDICT r14 #4)") {
    import spark.implicits._
    // the integrity hole the writer's length check can't cover: a gzip
    // shard REPLACED WHOLE after commit (the overwrite-rename zombie
    // scenario) carries internally consistent frames — every CRC
    // verifies — yet holds the wrong rows; the manifest's record-count
    // claim is the only remaining signal
    val rows = (0L until 40L).map(i => s"g-$i".getBytes("UTF-8"))
    withTempDir("graft-tfrec-claims") { tmp =>
      val path = tmp.toString
      TfRecords.write(rows.toDF("rec").repartition(2), "rec", path, gzip = true)
      val victim = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord.gz")).minBy(_.getName)
      // rewrite the victim as a VALID gzip stream of VALID frames, but
      // with a different record count than the manifest claims
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(victim.toPath))
      (0 until 5).foreach(i => out.write(
        TfRecords.encodeRecord(s"zombie-$i".getBytes("UTF-8"))))
      out.close()
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      // strict read sees nothing wrong (all CRCs pass) — the claims check
      // is what catches the swap
      assert(TfRecords.read(spark, path).count() == 25)
      val back = TfRecords.readLenient(spark, path).collect()
      val flagged = back.filter(!_.getBoolean(3)).map(_.getString(0)).distinct
      assert(flagged.toSeq == Seq(victim.getName),
        s"exactly the swapped shard must flag, got: ${flagged.mkString(",")}")
      // the flagged file's verified rows still surface (corruption is data)
      assert(back.count(r => r.getString(0) == victim.getName && !r.isNullAt(2)) == 5)
      // the untouched shard reads clean and whole
      assert(back.count(_.getBoolean(3)) == 20)
      // a swap that leaves ZERO valid records still surfaces as the
      // (file, -1, NULL, false) marker row, manifest claim or not
      val out2 = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(victim.toPath))
      out2.close() // empty but valid gzip: 0 records, claim says 20
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      val back2 = TfRecords.readLenient(spark, path).collect()
      val marker = back2.filter(_.getString(0) == victim.getName)
      assert(marker.length == 1 && marker(0).getLong(1) == -1L &&
        !marker(0).getBoolean(3))
      // a manifest-claimed file DELETED from disk is not silent either:
      // nothing is left to list, so the marker row comes from the claims
      java.nio.file.Files.delete(victim.toPath)
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      val backGone = TfRecords.readLenient(spark, path).collect()
      val gone = backGone.filter(_.getString(0) == victim.getName)
      assert(gone.length == 1 && gone(0).getLong(1) == -1L &&
        gone(0).isNullAt(2) && !gone(0).getBoolean(3),
        "a deleted-but-claimed shard must surface as a marker row")
      assert(backGone.count(_.getBoolean(3)) == 20, "survivors still clean")
      // and with no manifest at all, behavior is unchanged (no claims)
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_manifest.json"))
      val back3 = TfRecords.readLenient(spark, path).collect()
      assert(back3.forall(_.getBoolean(3)), "no manifest => no count claims")
      // a swap that PRESERVES the record count but changes record sizes
      // passes a count-only check — the payload claim is what catches it
      withTempDir("graft-tfrec-claims2") { tmp =>
        val path2 = tmp.toString
        val rows2 = (0L until 10L).map(i => s"x-$i".getBytes("UTF-8"))
        TfRecords.write(rows2.toDF("rec").repartition(1), "rec", path2, gzip = true)
        val v2 = new java.io.File(path2).listFiles()
          .filter(_.getName.endsWith(".tfrecord.gz")).head
        val out3 = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(v2.toPath))
        (0 until 10).foreach(i => out3.write(
          TfRecords.encodeRecord(s"xx-$i".getBytes("UTF-8")))) // same count, longer
        out3.close()
        new java.io.File(path2).listFiles()
          .filter(_.getName.endsWith(".crc")).foreach(_.delete())
        val back4 = TfRecords.readLenient(spark, path2).collect()
        assert(back4.length == 10 && back4.forall(!_.getBoolean(3)),
          "a same-count different-payload swap must still flag the file")
      }
    }
  }

  test("disk_crc32c closes the same-length swap hole: a content swap with " +
    "identical count, payload, AND length flags on readLenient and is " +
    "REWRITTEN on resume (VERDICT r15 #1)") {
    import spark.implicits._
    // the one class every length-based check waves through: replace a
    // committed shard with different records of the SAME sizes — framing
    // arithmetic, record count, payload bytes, and disk length all still
    // match the manifest's claims, every frame CRC verifies
    val df = spark.range(40).selectExpr("id % 2 as shard_id",
      "cast(printf('p-A-%03d', id) as binary) as rec")
    withTempDir("graft-tfrec-crc") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 2, path)
      val victim = new java.io.File(path, "part-00000.tfrecord")
      val originalLen = victim.length
      val swapped = (0L until 40L).filter(_ % 2 == 0)
        .map(i => TfRecords.encodeRecord(f"p-B-$i%03d".getBytes("UTF-8")))
        .reduce(_ ++ _)
      java.nio.file.Files.write(victim.toPath, swapped)
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      assert(victim.length == originalLen, "the swap must be length-invisible")
      // every pre-crc check passes: strict read sees valid frames, counts
      // and payload match the claims — only the content CRC differs
      assert(TfRecords.read(spark, path).count() == 40)
      val flagged = TfRecords.readLenient(spark, path).collect()
        .filter(!_.getBoolean(3)).map(_.getString(0)).distinct
      assert(flagged.toSeq == Seq("part-00000.tfrecord"),
        s"exactly the swapped shard must flag, got ${flagged.mkString(",")}")
      // resume detects the mismatch against the manifest's disk_crc32c and
      // rewrites ONLY the corrupt shard; the intact one is never touched
      val intact = new java.io.File(path, "part-00001.tfrecord")
      intact.setLastModified(1000000000000L)
      TfRecords.writeSharded(df, "rec", "shard_id", 2, path, resume = true)
      assert(intact.lastModified == 1000000000000L, "intact shard rewritten")
      val restored = TfRecords.decodeAll(
        java.nio.file.Files.readAllBytes(victim.toPath))
        .map(new String(_, "UTF-8"))
      assert(restored.forall(_.startsWith("p-A-")), "corrupt shard not restored")
      assert(TfRecords.readLenient(spark, path).collect()
        .forall(_.getBoolean(3)), "post-resume export must verify clean")
    }
  }

  test("a same-length post-commit corruption of a GZIP shard is rewritten " +
    "on resume and flagged by readLenient (VERDICT r15 #1 done-criterion)") {
    import spark.implicits._
    val df = spark.range(60).selectExpr("id % 3 as shard_id",
      "cast(concat('gz=', id) as binary) as rec")
    withTempDir("graft-tfrec-gzcrc") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 3, path, gzip = true)
      val victim = new java.io.File(path, "part-00001.tfrecord.gz")
      val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x40).toByte
      java.nio.file.Files.write(victim.toPath, bytes) // same length, one bit off
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      // flagged by the lenient read (both the inflate failure and the crc
      // claim catch it — the crc matters for corruptions deflate survives)
      val flagged = TfRecords.readLenient(spark, path).collect()
        .filter(!_.getBoolean(3)).map(_.getString(0)).distinct
      assert(flagged.toSeq == Seq(victim.getName))
      // resume: presence must NOT prove completeness for a crc-failed
      // shard — it is deleted and rewritten while survivors keep their
      // bytes (mtime sentinels) and their manifest claims
      val survivors = Seq("part-00000.tfrecord.gz", "part-00002.tfrecord.gz")
        .map(new java.io.File(path, _))
      survivors.foreach(_.setLastModified(1000000000000L))
      TfRecords.writeSharded(df, "rec", "shard_id", 3, path, gzip = true,
        resume = true)
      survivors.foreach(f => assert(f.lastModified == 1000000000000L,
        s"${f.getName} rewritten on resume"))
      assert(TfRecords.read(spark, path).count() == 60)
      assert(TfRecords.readLenient(spark, path).collect().forall(_.getBoolean(3)))
      assert(TfRecords.readManifest(spark, path)
        .selectExpr("sum(n_records)").collect()(0).getLong(0) == 60L)
    }
  }

  test("resume enforces the same-shape contract: a flipped gzip flag fails " +
    "loud when the layout marker declares the format (ADVICE r17), sweeps " +
    "the other format's shards only pre-marker, a shrunk numShards fails " +
    "loud (ADVICE r15)") {
    import spark.implicits._
    val df = spark.range(30).selectExpr("id % 3 as shard_id",
      "cast(concat('f=', id) as binary) as rec")
    withTempDir("graft-tfrec-shape") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 3, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(TfRecords.readLayout(fs,
        new org.apache.hadoop.fs.Path(path)).gzip.contains(false))
      // flipped format on resume with the marker present: fail loud, SAME
      // contract as a changed shard count — before ADVICE r17 this path
      // silently deleted every committed shard and re-exported the corpus
      val ef = intercept[IllegalArgumentException] {
        TfRecords.writeSharded(df, "rec", "shard_id", 3, path, gzip = true,
          resume = true)
      }
      assert(ef.getMessage.contains("gzip=true") &&
        ef.getMessage.contains("gzip=false"))
      assert(new java.io.File(path).listFiles()
        .count(_.getName.endsWith(".tfrecord")) == 3,
        "fail-loud must not sweep the committed shards")
      // pre-marker exports (no _layout.json) keep the sweep: the plain
      // shards can never count as committed (suffix mismatch), so leaving
      // them would double the corpus under read()'s *.tfrecord* glob
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_layout.json"))
      TfRecords.writeSharded(df, "rec", "shard_id", 3, path, gzip = true,
        resume = true)
      assert(TfRecords.readLayout(fs,
        new org.apache.hadoop.fs.Path(path)).gzip.contains(true),
        "the resume must re-seed a marker declaring the new format")
      val names = new java.io.File(path).listFiles().map(_.getName)
      assert(names.count(_.endsWith(".tfrecord.gz")) == 3)
      assert(!names.exists(n => n.endsWith(".tfrecord") && n.startsWith("part-")),
        s"old-format shards must be swept: ${names.mkString(",")}")
      assert(TfRecords.read(spark, path).count() == 30, "no duplicated corpus")
      // shrunk shard count on resume: the _layout.json marker (written at
      // export start) declares the intended count, so ANY mismatch fails
      // loud with a self-explanatory error (ADVICE r16)
      val e = intercept[IllegalArgumentException] {
        TfRecords.writeSharded(df.filter("shard_id < 2"), "rec", "shard_id", 2,
          path, gzip = true, resume = true)
      }
      assert(e.getMessage.contains("numShards=2") &&
        e.getMessage.contains("numShards=3"))
      // a GROWN count fails loud too — the presence check alone would wave
      // it through and mix shards committed under two assignments
      val eg = intercept[IllegalArgumentException] {
        TfRecords.writeSharded(df, "rec", "shard_id", 5, path, gzip = true,
          resume = true)
      }
      assert(eg.getMessage.contains("numShards=5") &&
        eg.getMessage.contains("numShards=3"))
      // pre-marker exports (no _layout.json) keep the shrink-only presence
      // guard — the old behavior, with its original error
      java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_layout.json"))
      val ep = intercept[IllegalArgumentException] {
        TfRecords.writeSharded(df.filter("shard_id < 2"), "rec", "shard_id", 2,
          path, gzip = true, resume = true)
      }
      assert(ep.getMessage.contains("outside [0, 2)"))
    }
  }

  test("a garbage or missing _layout.json degrades to the presence-only " +
    "guard (best-effort metadata, like the manifest), and a fresh write " +
    "seeds a parseable marker") {
    import spark.implicits._
    val df = spark.range(20).selectExpr("id % 2 as shard_id",
      "cast(concat('l=', id) as binary) as rec")
    withTempDir("graft-tfrec-layout") { tmp =>
      val path = tmp.toString
      TfRecords.writeSharded(df, "rec", "shard_id", 2, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(TfRecords.readLayout(fs,
        new org.apache.hadoop.fs.Path(path)).numShards.contains(2))
      // corrupt the marker: resume must not fail on unparseable metadata —
      // it silently falls back to the shrink-only presence check
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_layout.json"), Array[Byte](0, 1, -1))
      assert(TfRecords.readLayout(fs, new org.apache.hadoop.fs.Path(path)) ==
        TfRecords.Layout(None, None), "a garbage marker declares neither field")
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(path, "part-00001.tfrecord"))
      TfRecords.writeSharded(df, "rec", "shard_id", 2, path, resume = true)
      assert(TfRecords.read(spark, path).count() == 20)
      // and the resume re-seeded a parseable marker for the next attempt
      assert(TfRecords.readLayout(fs,
        new org.apache.hadoop.fs.Path(path)).numShards.contains(2))
    }
  }

  test("tieCols order NEGATIVE integral ties numerically: -5 sorts before " +
    "0 and 3, and reruns stay byte-identical (ADVICE r16)") {
    import spark.implicits._
    // every order key collides; tie values span negative and positive —
    // the old non-negative lpad encoded -5 as '000…0-5', which sorts
    // AFTER every non-negative key (the '-' codepoint exceeds digits'),
    // silently breaking both the numeric order and rerun determinism
    def df(parts: Int) = spark.range(24)
      .selectExpr("cast(id - 12 as bigint) as tie").repartition(parts)
      .selectExpr("0L as shard_id", "'k' as okey", "tie",
        "cast(concat('v=', tie) as binary) as rec")
    withTempDir("graft-tfrec-negtie1") { tmp =>
      val p1 = tmp.toString
      withTempDir("graft-tfrec-negtie2") { tmp =>
        val p2 = tmp.toString
        TfRecords.writeShardedSorted(df(3), "rec", "shard_id", "okey", 1, p1,
          tieCols = Seq("tie"))
        TfRecords.writeShardedSorted(df(7), "rec", "shard_id", "okey", 1, p2,
          tieCols = Seq("tie"))
        val b1 = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p1, "part-00000.tfrecord"))
        val b2 = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p2, "part-00000.tfrecord"))
        assert(java.util.Arrays.equals(b1, b2), "reruns differ under negative ties")
        val vals = TfRecords.decodeAll(b1)
          .map(r => new String(r, "UTF-8").stripPrefix("v=").toLong)
        assert(vals == (-12L until 12L).toList,
          s"negative ties must order numerically, got $vals")
      }
    }
  }

  test("manifestClaims parsing: pre-disk_bytes manifests fall back to -1, " +
    "malformed lines are skipped, a garbage file degrades to no claims") {
    withTempDir("graft-tfrec-oldmani") { dir =>
      // a pre-r15 manifest line (no disk_bytes), a pre-r16 line (no
      // disk_crc32c), a current line, and one malformed line
      java.nio.file.Files.writeString(dir.resolve("_manifest.json"),
        """{"shard":0,"file":"part-00000.tfrecord","n_records":7,"payload_bytes":42,"framed_bytes":154}
          |not json at all
          |{"shard":1,"file":"part-00001.tfrecord.gz","n_records":3,"payload_bytes":9,"framed_bytes":57,"disk_bytes":31}
          |{"shard":2,"file":"part-00002.tfrecord","n_records":2,"payload_bytes":8,"framed_bytes":40,"disk_bytes":40,"disk_crc32c":3994871409}
          |""".stripMargin)
      val claims = TfRecords.manifestClaims(spark, dir.toString)
      assert(claims == Map(
        "part-00000.tfrecord" -> TfRecords.ManifestClaim(7L, 42L, -1L, -1L),
        "part-00001.tfrecord.gz" -> TfRecords.ManifestClaim(3L, 9L, 31L, -1L),
        "part-00002.tfrecord" -> TfRecords.ManifestClaim(2L, 8L, 40L, 3994871409L)))
      // absent manifest => empty, never a failure
      withTempDir("graft-tfrec-nomani") { empty =>
        assert(TfRecords.manifestClaims(spark, empty.toString).isEmpty)
        // unreadable garbage => empty, never a failure (best-effort contract)
        java.nio.file.Files.write(dir.resolve("_manifest.json"),
          Array[Byte](0, 1, 2, -1))
        assert(TfRecords.manifestClaims(spark, dir.toString).isEmpty)
      }
    }
  }

  test("the shard-name codec round-trips ids of any width and gives no id " +
    "for temps, markers or the other format's names") {
    import spark.implicits._
    for (id <- Seq(0L, 7L, 123456L); gzip <- Seq(false, true)) {
      val name = TfRecords.shardFile(id, gzip)
      assert(TfRecords.shardId(name, gzip).contains(id), name)
      assert(TfRecords.shardId(name, !gzip).isEmpty, name)
    }
    assert(TfRecords.shardFile(7L, gzip = false) == "part-00007.tfrecord")
    assert(TfRecords.shardFile(123456L, gzip = true) == "part-123456.tfrecord.gz")
    Seq(".part-00001.17.inprogress", "_manifest.json", "_layout.json",
      "part-00000.tfrecord.gz").foreach { n =>
      assert(TfRecords.shardId(n, gzip = false).isEmpty, n)
    }
    // the read-side SQL reads every digit; a fixed five-digit substring
    // reads part-123456 back as shard 12345
    val ids = Seq("part-00003.tfrecord", "part-123456.tfrecord",
      "part-00042.tfrecord.gz").toDF("file")
      .selectExpr(TfRecords.fileShardIdSql,
        "cast(substring(file, 6, 5) as bigint)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ids == Seq((3L, 3L), (123456L, 12345L), (42L, 42L)))
  }

  test("readLenient's rows equal decodeLenient of the same bytes: same " +
    "record prefix, same clean flag, and the marker row when no record " +
    "verifies") {
    val recs = (0 until 6).map(i => s"doc-$i-${"x" * i}".getBytes("UTF-8"))
    val file = recs.map(TfRecords.encodeRecord).reduce(_ ++ _)
    def flip(at: Int): Array[Byte] = {
      val b = file.clone()
      b(at) = (b(at) ^ 0x01).toByte
      b
    }
    val payload3 = recs.take(3).map(16 + _.length).sum + 12
    Seq(
      "intact" -> file,
      "bad first frame" -> flip(0),
      "flipped payload bit mid-file" -> flip(payload3),
      "truncated tail" -> file.dropRight(3),
      "trailing partial header" -> (file ++ file.take(5))
    ).foreach { case (what, bytes) =>
      // a one-shard export with no manifest, written without the local
      // filesystem's .crc sidecar, so only the frame CRCs judge it
      withTempDir("graft-tfrec-agree") { dir =>
        java.nio.file.Files.write(dir.resolve("part-00000.tfrecord"), bytes)
        val (want, clean) = TfRecords.decodeLenient(bytes)
        assert(clean == (what == "intact"), what)
        val rows = TfRecords.readLenient(spark, dir.toString).collect()
          .sortBy(_.getLong(1))
        assert(rows.forall(_.getString(0) == "part-00000.tfrecord"), what)
        if (want.isEmpty) {
          assert(rows.length == 1 && rows(0).getLong(1) == -1L &&
            rows(0).isNullAt(2) && !rows(0).getBoolean(3), what)
        } else {
          assert(rows.map(_.getLong(1)).toSeq == want.indices.map(_.toLong), what)
          assert(rows.zip(want).forall { case (r, w) =>
            r.getAs[Array[Byte]](2).sameElements(w) && r.getBoolean(3) == clean
          }, what)
        }
      }
    }
    assert(TfRecords.decodeLenient(flip(payload3))._1.length == 3)
  }
}
