package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** A seeded text corpus for the MapReduce specs, written to a fresh temp
  * dir. Same seed, same bytes. Every file mixes what the word-count
  * tokenizer and the byte-range sharder must get right:
  *  - inner apostrophes, straight and curly (`don’t`, `rock‘n’roll`),
  *    and curly quotes at word edges;
  *  - Capitalised and UPPER words;
  *  - multi-byte UTF-8 (2-, 3- and 4-byte sequences) dense enough that
  *    shard boundaries land inside characters;
  *  - LF, CRLF and lone-CR line terminators, and empty lines;
  *  - one line in the first file longer than a quarter of that file, so
  *    longer than a shard for any M of 5 or more.
  * Non-ASCII letters are lowercase only, so Python's and the JVM's case
  * mappings agree on every line. */
object TestCorpus {
  private val Words = Seq(
    "the", "of", "and", "to", "in", "a", "is", "that", "mind", "nature",
    "poet", "river", "mountain", "light", "shade", "heart", "feeling", "truth",
    "don’t", "it’s", "o’er", "rock‘n’roll", "can't", "ne'er", "tis’")
  private val Foreign = Seq(
    "café", "naïve", "über", "façade", "señor", "straße", "日本語", "中文",
    "ελλάδα", "😀", "𝔞𝔟", "—", "…")
  private val Terminators = Seq("\n", "\r\n", "\r")

  /** `files` files of about `bytes` bytes each, named `text_<i>.txt`;
    * their paths, sorted. Each file ends with a terminator. */
  def write(seed: Long, files: Int, bytes: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("graft_corpus")
    def word(): String = {
      val w = if (rnd.nextInt(4) == 0) Foreign(rnd.nextInt(Foreign.size))
        else Words(rnd.nextInt(Words.size))
      rnd.nextInt(20) match {
        case 0 if w.forall(_ < 128) => w.capitalize
        case 1 if w.forall(_ < 128) => w.toUpperCase(java.util.Locale.ROOT)
        case 2 => s"“$w”"
        case 3 => s"‘$w,"
        case _ => w
      }
    }
    (0 until files).map { f =>
      val out = new java.io.ByteArrayOutputStream
      def put(t: String): Unit = out.write(t.getBytes(UTF_8))
      var longPending = f == 0
      while (out.size < bytes) {
        if (longPending && out.size >= bytes / 2) {
          val start = out.size
          while (out.size - start <= bytes / 4) put(word() + " ")
          longPending = false
        } else put(Seq.fill(rnd.nextInt(15))(word()).mkString(" "))
        put(Terminators(rnd.nextInt(Terminators.size)))
      }
      val p = dir.resolve(f"text_$f%02d.txt")
      Files.write(p, out.toByteArray)
      p.toString
    }.sorted
  }

  /** The shipped mapper.py and reducer.py, written to a fresh temp dir. */
  lazy val scripts: String = {
    val dir = Files.createTempDirectory("graft_scripts")
    for (f <- Seq("mapper.py", "reducer.py"))
      Files.writeString(dir.resolve(f), WordCount.shippedScript(f))
    dir.toString
  }

  /** Byte offsets at which a UTF-8 continuation byte starts a shard, i.e.
    * where a shard boundary of `ByteShards.shardFiles(_, m)` splits a
    * multi-byte character, for a single file. */
  def straddledBoundaries(path: String, m: Int): Seq[Long] = {
    val bs = Files.readAllBytes(Path.of(path))
    ByteShards.shardFiles(Seq((path, bs.length.toLong)), m).flatMap(_.ranges)
      .map(_.start).filter(o => o > 0 && (bs(o.toInt) & 0xC0) == 0x80)
  }

  /** Longest line of a file, in bytes, split at LF, CRLF and lone CR. */
  def longestLine(path: String): Int =
    new String(Files.readAllBytes(Path.of(path)), UTF_8).split("\r\n|\r|\n")
      .map(_.getBytes(UTF_8).length).max
}
