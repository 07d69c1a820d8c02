package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.util.Random

/** Seeded synthetic text/markdown corpus.
  *
  * Sixteen topics, each with its own vocabulary, so embeddings cluster and
  * an IVF codebook built from the topic vectors has meaningful cells. A
  * quarter of the files repeat their opening 450 characters once, aligned
  * to the chunk step, so exact dedup has within-file duplicates to drop.
  * Chunks never repeat across files: the flat refresh protocol dedups
  * only within the changed files, so a cross-file duplicate would make a
  * refreshed store differ from a fresh build by design (see README). */
object Corpus {
  val Topics = 16
  private val WordsPerTopic = 120
  private val CommonWords = 200
  private val Step = 150 // chunk size 200 minus overlap 50
  private val RepeatLen = 3 * Step
  private val BaseMtimeMs = 1700000000000L

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "zu",
    "pe", "da", "gri", "shu", "an", "el", "or", "ba", "fi", "qu", "xe", "tra", "mon",
    "ler", "vis", "cor", "pla", "den", "sto")

  /** Fixed vocabulary, independent of the run seed. */
  private val vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < Topics * WordsPerTopic + CommonWords)
      seen += Seq.fill(2 + r.nextInt(3))(syllables(r.nextInt(syllables.size))).mkString
    seen.toIndexedSeq
  }
  private def topicWords(t: Int): IndexedSeq[String] =
    vocab.slice(CommonWords + t * WordsPerTopic, CommonWords + (t + 1) * WordsPerTopic)
  private val common = vocab.take(CommonWords)

  /** The words that define topic `t`; their embedding is the topic's IVF
    * centroid. */
  def topicSignature(t: Int): String = topicWords(t).take(24).mkString(" ")

  /** A query of `n` words drawn from topic `t`. */
  def question(r: Random, t: Int, n: Int): String =
    Seq.fill(n)(topicWords(t)(r.nextInt(WordsPerTopic))).mkString(" ")

  private def sentence(r: Random, t: Int): String = {
    val ws = Seq.fill(8 + r.nextInt(9)) {
      if (r.nextDouble() < 0.7) topicWords(t)(r.nextInt(WordsPerTopic))
      else common(r.nextInt(CommonWords))
    }
    ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
  }

  /** Text of one file: the final window of every file is longer than the
    * chunk overlap, so no chunk is a short common tail. */
  def text(r: Random, topic: Int, markdown: Boolean, minLen: Int, maxLen: Int): String = {
    val target = minLen + r.nextInt(maxLen - minLen + 1)
    val b = new StringBuilder
    if (markdown) b ++= "# " + sentence(r, topic).dropRight(1) + "\n\n"
    while (b.length < target + RepeatLen) {
      b ++= sentence(r, topic)
      b ++= (if (r.nextInt(5) == 0) "\n\n" else " ")
    }
    val body = b.toString
    val withRepeat =
      if (r.nextInt(4) == 0) body.take(RepeatLen) + body.take(RepeatLen) + body.drop(RepeatLen)
      else body
    val rem = target % Step
    withRepeat.take(if (rem < 60) target - rem - 1 else target)
  }

  final case class Spec(files: Int, minLen: Int, maxLen: Int)

  def fileName(no: Int, markdown: Boolean): String =
    f"d$no%06d.${if (markdown) "md" else "txt"}"

  /** Write `spec.files` files into `dir`, numbered from `firstNo`. */
  def write(dir: Path, seed: Long, spec: Spec, firstNo: Int = 0): Seq[Path] = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    (firstNo until firstNo + spec.files).map { no =>
      val md = no % 2 == 0
      writeFile(dir.resolve(fileName(no, md)),
        text(r, no % Topics, md, spec.minLen, spec.maxLen), 0)
    }
  }

  def writeFile(p: Path, text: String, version: Int): Path = {
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p, FileTime.fromMillis(BaseMtimeMs + version * 1000L))
    p
  }

  def fileNo(p: Path): Int = p.getFileName.toString.drop(1).takeWhile(_.isDigit).toInt

  final case class Mutation(modified: Seq[Path], added: Path, deleted: Path) {
    def changedFiles: Seq[Path] = modified :+ added
  }

  /** One refresh cycle's edit: rewrite ~`fraction` of the files, add one
    * file and delete one untouched file. */
  def mutate(dir: Path, seed: Long, cycle: Int, fraction: Double, spec: Spec): Mutation = {
    val r = new Random(seed * 1000003L + cycle)
    val files = listFiles(dir)
    val nMod = math.max(1, math.round(files.size * fraction).toInt)
    val shuffled = r.shuffle(files)
    val modified = shuffled.take(nMod)
    val deleted = shuffled(nMod)
    modified.foreach { p =>
      val no = fileNo(p)
      writeFile(p, text(r, no % Topics, no % 2 == 0, spec.minLen, spec.maxLen), cycle + 1)
    }
    Files.delete(deleted)
    val no = files.map(fileNo).max + 1
    val added = writeFile(dir.resolve(fileName(no, no % 2 == 0)),
      text(r, no % Topics, no % 2 == 0, spec.minLen, spec.maxLen), cycle + 1)
    Mutation(modified, added, deleted)
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) b += it.next()
      b.result().sortBy(_.getFileName.toString)
    } finally s.close()
  }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum
}
