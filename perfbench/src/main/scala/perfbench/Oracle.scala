package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Reference results, computed in the benchmark's JVM, that the benchmark
  * checks the program against.
  * Nothing here calls the program's search, eval or sink code: the sink
  * table is read with plain `spark.read.parquet` and scored by brute force.
  */
object Oracle {

  /** The sink table as the oracle sees it. */
  final case class Table(ids: Array[String], sources: Array[String], texts: Array[String],
                         vectors: Array[Array[Float]]) {
    def rows: Int = ids.length

    /** The rows for which `keep(i)` holds. */
    def filter(keep: Int => Boolean): Table = {
      val is = ids.indices.filter(keep).toArray
      Table(is.map(ids), is.map(sources), is.map(texts), is.map(vectors))
    }
  }

  def read(spark: SparkSession, sinkPath: String): Table = {
    val rows = spark.read.parquet(sinkPath).select("id", "source", "text", "vector").collect()
    Table(rows.map(_.getString(0)), rows.map(_.getString(1)), rows.map(_.getString(2)),
      rows.map(r => r.getSeq[Float](3).toArray))
  }

  /** None when the sink holds exactly the documents on disk now: its
    * sources are the `files` (source -> current text, every one long enough
    * to yield a chunk), and every row's text occurs in its source's current
    * text, so no row is left from an older version of a file. Otherwise
    * why not. Uses nothing the program reports.
    */
  def checkSink(t: Table, files: Map[String, String]): Option[String] = {
    val got = t.sources.toSet
    val missing = files.keySet -- got
    val extra = got -- files.keySet
    if (missing.nonEmpty) Some(s"sink lacks ${missing.size} of ${files.size} sources, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"sink holds ${extra.size} sources not on disk, e.g. ${extra.head}")
    else t.sources.indices.collectFirst {
      case i if t.texts(i) == null || !files(t.sources(i)).contains(t.texts(i)) =>
        s"sink row ${t.ids(i)} of ${t.sources(i)} has text not in the file: '${t.texts(i)}'"
    }
  }

  /** Cosine in the engine's canonical arithmetic (double accumulation, left
    * to right); NaN stands for the engine's NULL on a zero norm.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) Double.NaN else dot / d
  }

  /** Row indices of the top `k` rows by score descending (NULL last), ties
    * broken by id ascending, as the engine orders them.
    */
  def topK(t: Table, q: Array[Float], k: Int): Seq[(Int, Double)] = {
    val scored = Array.tabulate(t.rows)(i => (i, cosine(t.vectors(i), q)))
    scored.sortWith { case ((i, a), (j, b)) =>
      if (a.isNaN != b.isNaN) b.isNaN
      else if (!a.isNaN && a != b) a > b
      else t.ids(i) < t.ids(j)
    }.take(k).toSeq
  }

  /** None when `got` (the rows of `search(..).collect()`, score last) has
    * the brute-force top-k scores within `tol`; otherwise why not.
    */
  def checkSearch(t: Table, q: Array[Float], k: Int, got: Seq[Row],
                  tol: Double = 1e-5): Option[String] = {
    val want = topK(t, q, k).map(_._2)
    val scores = got.map(r => if (r.isNullAt(r.length - 1)) Double.NaN else r.getDouble(r.length - 1))
    if (scores.length != want.length) Some(s"search returned ${scores.length} rows, expected ${want.length}")
    else scores.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !(g.isNaN && w.isNaN) && !(math.abs(g - w) <= tol) =>
        s"search score $i is $g, brute force gives $w"
    }
  }

  /** Questions whose expected source is among their top-k rows. */
  def hits(t: Table, questions: Seq[(Array[Float], String)], k: Int): Long =
    questions.count { case (q, expected) => topK(t, q, k).exists(h => t.sources(h._1) == expected) }.toLong

  /** None when `evaluate(..)`'s row counted `questions` questions and
    * `wantHits` hits; otherwise why not.
    */
  def checkEval(total: Long, hits: Long, questions: Long, wantHits: Long): Option[String] =
    if (total != questions) Some(s"eval counted $total questions, expected $questions")
    else if (hits != wantHits) Some(s"eval hits $hits, brute force gives $wantHits")
    else None

  /** The four `RunReport` counts, in declaration order. */
  final case class Counts(loaded: Long, changed: Long, chunks: Long, processed: Long)

  def counts(r: graft.Pipeline.RunReport): Counts =
    Counts(r.documentsLoaded, r.documentsChanged, r.chunksWritten, r.sourcesProcessed)

  /** What a run over the files on disk must report: `changed` names the
    * files whose content the run had not yet ingested, and the sink
    * (read back afterwards) must hold their chunks.
    */
  def expectedCounts(t: Table, filesOnDisk: Int, changedSources: Set[String]): Counts = {
    val rows = t.sources.count(changedSources.contains).toLong
    val processed = t.sources.iterator.filter(changedSources.contains).toSet.size.toLong
    Counts(filesOnDisk, changedSources.size, rows, processed)
  }

  def checkCounts(want: Counts, got: Counts): Option[String] =
    if (want == got) None else Some(s"RunReport $got, expected $want")
}
