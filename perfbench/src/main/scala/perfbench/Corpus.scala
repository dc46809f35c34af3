package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's deterministic local-files corpus.
  *
  * A fixed pool of [[Corpus.PoolSize]] synthetic documents follows the
  * recipe of the repository's `documents` test table (one document of 8–96
  * words, about 44–580 characters), but draws its words from a
  * Zipf-weighted vocabulary of generated pseudo-words instead of 30 fixed
  * words, so that a word window names one document and retrieval has real
  * answers to check. The pool never depends on the seed. The seed picks
  * the corpus out of the pool, orders the held-out rest (the source of new
  * files), and drives every edit and every query.
  */
final class Corpus(val dir: Path, seed: Long, val size: Int) {
  import Corpus._

  private val order: Array[Int] = {
    val r = new SplittableRandom(seed)
    val a = Array.range(0, PoolSize)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  require(size >= 1 && size < PoolSize, s"corpus size $size must lie in [1, $PoolSize)")

  /** The documents every cold run starts from. */
  val base: Seq[Int] = order.take(size).toSeq
  private var heldOut = size
  private val rnd = new SplittableRandom(seed * 31 + 7)
  private var round = 0

  /** File name -> text of the files on disk now. */
  val files: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def sourceOf(name: String): String = "file:" + dir.toAbsolutePath.normalize.resolve(name)
  def bytes: Long = files.valuesIterator.map(_.getBytes(UTF_8).length.toLong).sum

  /** Rewrite the directory to hold exactly the base documents. */
  def reset(): Unit = {
    if (Files.exists(dir)) Bench.deleteTree(dir)
    Files.createDirectories(dir)
    files.clear()
    base.foreach(i => write(name(i), pool(i)))
  }

  private def write(n: String, text: String): Unit = {
    Files.write(dir.resolve(n), text.getBytes(UTF_8))
    files(n) = text
  }

  /** A delta: `Corpus.deltaHalf` edited files, each starting with its own
    * marker words, and as many new files from the held-out pool.
    */
  def applyDelta(): Delta = {
    round += 1
    val half = deltaHalf(size)
    val names = files.keys.toIndexedSeq
    val edited = mutable.LinkedHashSet.empty[String]
    while (edited.size < half) edited += names(rnd.nextInt(names.size))
    val markers = edited.toSeq.zipWithIndex.map { case (n, e) =>
      val m = (0 until 3).map(j => s"zq${round}e${e}m$j").mkString(" ")
      write(n, m + " " + document(rnd))
      m
    }
    val added = (0 until half).map { _ =>
      require(heldOut < PoolSize, "held-out pool exhausted")
      val i = order(heldOut); heldOut += 1
      write(name(i), pool(i))
      name(i)
    }
    Delta(edited.toSeq, added, markerQuery = markers.head, markedFile = edited.head)
  }

  /** `n` word windows of `width` words from random base documents, with
    * the source each was taken from.
    */
  def windows(n: Int, width: Int, r: SplittableRandom): Seq[(String, String)] =
    Seq.fill(n) {
      val i = base(r.nextInt(base.size))
      val words = pool(i).split(' ')
      val from = r.nextInt(math.max(1, words.length - width + 1))
      (words.slice(from, from + width).mkString(" "), sourceOf(name(i)))
    }
}

final case class Delta(edited: Seq[String], added: Seq[String], markerQuery: String,
                       markedFile: String) {
  def changed: Seq[String] = edited ++ added
}

object Corpus {
  val PoolSize = 2500
  val VocabSize = 4000

  def name(poolIndex: Int): String = f"d$poolIndex%05d.txt"

  /** Edited (and new) files per delta: 0.5 % of the corpus each, at least
    * one, so a delta changes 1 % of a corpus of 200 files or more.
    */
  def deltaHalf(size: Int): Int = math.max(1, size / 200)

  private val vocab: Array[String] = {
    val r = new SplittableRandom(42)
    val consonants = "bcdfghklmnprstvz"
    val vowels = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val syllables = 1 + r.nextInt(3)
      seen += (0 until syllables).map { _ =>
        s"${consonants(r.nextInt(consonants.length))}${vowels(r.nextInt(vowels.length))}"
      }.mkString + consonants(r.nextInt(consonants.length))
    }
    seen.toArray
  }

  // Zipf(1) cumulative weights over the vocabulary ranks.
  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  def document(r: SplittableRandom): String = Seq.fill(8 + r.nextInt(89))(word(r)).mkString(" ")

  val pool: Array[String] = {
    val r = new SplittableRandom(20240501)
    Array.fill(PoolSize)(document(r))
  }
}
