package graft.mr

import graft.SparkSpec
import org.scalatest.prop.TableDrivenPropertyChecks._

/** Reference-parity laws for the exact-M byte-range sharder:
  * packing exactness (mr_master.go:152-217 semantics) and split-aligned
  * line reading (azure_util.go:196-218) — the merged line multiset must
  * equal `spark.read.textFile` for ANY M, including boundary-straddling
  * and boundary-exact lines. */
class ByteShardsSpec extends SparkSpec {

  private lazy val fixture = TestCorpus.write(seed = 23, files = 1, bytes = 100000).head

  test("packing: covers every byte exactly once, ascending file order, <= M shards") {
    val files = Seq(("c", 100L), ("a", 7L), ("b", 4000L), ("d", 0L))
    forAll(Table("m", 1, 2, 3, 5, 8, 64)) { m =>
      val shards = ByteShards.shardFiles(files, m)
      val total = 100L + 7L + 4000L
      val shardSize = (total + m - 1) / m
      assert(shards.size === ((total + shardSize - 1) / shardSize).toInt)
      assert(shards.size <= m)
      // every shard except the last is exactly shardSize bytes
      val sizes = shards.map(_.ranges.map(r => r.end - r.start).sum)
      assert(sizes.init.forall(_ == shardSize))
      assert(sizes.sum === total)
      // per file: ranges union to [0, size) without overlap; zero-byte file dropped
      val byFile = shards.flatMap(_.ranges).groupBy(_.path)
      assert(!byFile.contains("d"))
      for ((p, sz) <- files if sz > 0) {
        val rs = byFile(p).sortBy(_.start)
        assert(rs.head.start === 0L && rs.last.end === sz)
        rs.sliding(2).foreach {
          case Seq(x, y) => assert(x.end === y.start)
          case _ =>
        }
      }
      // files are packed ascending by size: a spans shard 0 first
      assert(shards.head.ranges.head.path === "a")
    }
  }

  test("line parity with textFile for arbitrary M on a seeded multi-byte corpus") {
    val expected = spark.read.textFile(fixture).collect().toSeq.sorted
    val size = new java.io.File(fixture).length
    assert(Seq(7, 20).forall(m => TestCorpus.straddledBoundaries(fixture, m).nonEmpty),
      "premise: shard boundaries split multi-byte characters")
    assert(TestCorpus.longestLine(fixture) > (size + 6) / 7, "premise: a line spans a shard")
    forAll(Table("m", 1, 3, 7, 20)) { m =>
      val ds = ByteShards.lines(spark, Seq(fixture), m)
      assert(ds.rdd.getNumPartitions ===
        ByteShards.shardFiles(Seq((fixture, new java.io.File(fixture).length)), m).size)
      assert(ds.collect().toSeq.sorted === expected, s"M=$m")
    }
  }

  test("boundary-exact and boundary-straddling lines are neither lost nor duplicated") {
    // craft a file where, for some M, a '\n' lands exactly on a shard
    // boundary and another line straddles one
    val tmp = java.nio.file.Files.createTempFile("graft_shards", ".txt")
    val content = "aaaa\nbb\ncccccccccccc\nd\n\nee\n" // 27 bytes, incl. empty line
    java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
    val expected = content.split("\n", -1).toSeq.dropRight(1).sorted
    (1 to 27).foreach { m =>
      val got = ByteShards.lines(spark, Seq(tmp.toString), m).collect().toSeq.sorted
      assert(got === expected, s"M=$m")
    }
    java.nio.file.Files.delete(tmp)
  }

  test("CR / CRLF / LF terminators all match textFile (Hadoop LineReader parity)") {
    val tmp = java.nio.file.Files.createTempFile("graft_shards_cr", ".txt")
    val content = "a\r\nbb\rccc\nd\r\r\ne" // mixed terminators, no final newline
    java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
    val expected = spark.read.textFile(tmp.toString).collect().toSeq.sorted
    (1 to content.length).foreach { m =>
      val got = ByteShards.lines(spark, Seq(tmp.toString), m).collect().toSeq.sorted
      assert(got === expected, s"M=$m")
    }
    java.nio.file.Files.delete(tmp)
  }

  test("multi-file shards: a shard can span files and a file can span shards") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_multi")
    val fa = dir.resolve("a.txt"); val fb = dir.resolve("b.txt")
    java.nio.file.Files.write(fa, "x1\nx2\nx3\n".getBytes("UTF-8"))
    java.nio.file.Files.write(fb, ("y" * 50 + "\n" + "z" * 30 + "\n").getBytes("UTF-8"))
    val paths = Seq(fa.toString, fb.toString)
    val expected = spark.read.textFile(paths: _*).collect().toSeq.sorted
    (1 to 10).foreach { m =>
      val got = ByteShards.lines(spark, paths, m).collect().toSeq.sorted
      assert(got === expected, s"M=$m")
    }
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("property: random content x random M always yields the exact line multiset") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Hadoop LineReader reference semantics, implemented independently:
    // terminators LF, CRLF, lone CR; a trailing unterminated fragment is a
    // line; empty content has no lines
    def expectedLines(content: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val buf = new StringBuilder
      var i = 0
      while (i < content.length) {
        content(i) match {
          case '\n' => out += buf.result(); buf.clear(); i += 1
          case '\r' =>
            out += buf.result(); buf.clear()
            i += (if (i + 1 < content.length && content(i + 1) == '\n') 2 else 1)
          case c => buf += c; i += 1
        }
      }
      if (buf.nonEmpty) out += buf.result()
      out.result()
    }
    val genContent = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar, 2 -> Gen.const('\n'), 1 -> Gen.const('\r')))
      .map(_.mkString)
    val conf = new org.apache.hadoop.conf.Configuration()
    val prop = Prop.forAll(genContent, Gen.choose(1, 40)) { (content, m) =>
      val tmp = java.nio.file.Files.createTempFile("graft_prop", ".txt")
      try {
        java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
        val shards = ByteShards.shardFiles(
          Seq((tmp.toString, content.getBytes("UTF-8").length.toLong)), m)
        val got = shards.flatMap(_.ranges.flatMap(r =>
          ByteShards.readRange(r, conf).toSeq))
        got.sorted == expectedLines(content).sorted
      } finally java.nio.file.Files.delete(tmp)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("MRSpec honors NumMapTasks exactly through the lifecycle") {
    val out = java.nio.file.Files.createTempDirectory("graft_mrspec_out")
    val spec = MRSpec(
      userId = "u", jobId = 7,
      inputFilesDir = fixture,
      outputFilesDir = out.toString,
      numMapTasks = 6, numReduceTasks = 3,
      mapperFunc = s"${TestCorpus.scripts}/mapper.py",
      reducerFunc = s"${TestCorpus.scripts}/reducer.py")
    val shards = ByteShards.shardFiles(
      Seq((fixture, new java.io.File(fixture).length)), spec.numMapTasks)
    assert(shards.size === 6)
    val produced = MRSpec.run(spark, spec)
    assert(produced.size === 3) // R part files, like {User}_j{Job}_r{i}
    java.nio.file.Files.walk(out).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
