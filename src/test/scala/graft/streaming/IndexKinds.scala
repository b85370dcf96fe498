package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The three [[IndexStore]] kinds as one fixture, for the specs that run
  * a lifecycle contract over every kind. A kind builds a batch of
  * (id, item) rows: items 0-4 pairwise dissimilar, item [[NearA]] a
  * duplicate of item 0 under the kind's own notion (an edited-token text,
  * a rescaled vector, the same text) that the index must suppress.
  */
trait IndexKinds { this: SparkSpec =>

  // long texts so a one-token edit stays far above the 0.5 agreement bar
  private val texts = Seq("alpha", "beta", "gamma")
    .map(w => (1 to 40).map(i => s"$w$i").mkString(" ")) ++
    Seq("tiny unrelated text here", "another tiny doc")
  val NearA = 5

  case class Kind[+S <: IndexStore](name: String, idx: S,
      rows: (SparkSession, Seq[(Long, Int)]) => DataFrame,
      ingest: (DataFrame, Long, String) => Unit,
      read: (SparkSession, String) => DataFrame,
      tableDir: String => String,
      dropped: SparkSession => DataFrame) {
    def put(batchId: Long, dir: String, items: (Long, Int)*): Unit =
      ingest(rows(spark, items), batchId, dir)
    def indexSet(s: SparkSession, dir: String): Set[(Long, Long)] = {
      val df = read(s, dir)
      df.select(col("batch").cast("long"), col(df.columns.head).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def ids(s: SparkSession, dir: String): Set[Long] = indexSet(s, dir).map(_._2)
    /** This kind's test-name suffix in a spec whose original case is `home`'s. */
    def suffix(home: Kind[IndexStore]): String = if (this eq home) "" else s" ($name)"
  }

  private def docs(s: SparkSession, rows: Seq[(Long, String, String)]) = {
    import s.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  val fuzzy: Kind[LshIndex] = {
    val t = texts :+ texts.head.replace("alpha7", "edited")
    Kind("fuzzy", FuzzyIngest,
      (s, items) => docs(s, items.map { case (id, i) => (id, t(i), "en") }),
      FuzzyIngest.ingestBatch(_, _, _), FuzzyIngest.index, d => s"$d/idx",
      s => {
        import s.implicits._
        Seq((Option.empty[Long], texts.head, "en")).toDF("doc_id", "text", "lang")
      })
  }

  val embed: Kind[LshIndex] = {
    def unit(i: Int) = { val v = Array.fill(8)(0.0f); v(i) = 1.0f; v }
    // a positive rescale keeps every sign bit: a guaranteed band hit
    val vecs = (0 until NearA).map(unit) :+ unit(0).map(_ * 1.01f)
    def frame(s: SparkSession, rows: Seq[(Long, Array[Float], Int)]) = {
      import s.implicits._
      rows.toDF("vec_id", "embedding", "label")
    }
    Kind("embed", EmbedIngest,
      (s, items) => frame(s, items.map { case (id, i) => (id, vecs(i), 0) }),
      EmbedIngest.ingestBatch(_, _, _), EmbedIngest.index, d => s"$d/idx",
      // zero and null vectors: both dropped in the kernel
      frame(_, Seq((1L, Array.fill(8)(0.0f), 0), (2L, null, 0))))
  }

  val corpus: Kind[IndexStore] = {
    val t = texts :+ texts.head
    Kind("corpus", CorpusIngest,
      (s, items) => docs(s, items.map { case (id, i) => (id, t(i), "en") }),
      CorpusIngest.ingestBatch(_, _, _), CorpusIngest.manifest, identity,
      docs(_, Nil))
  }

  /** An all-dropped first batch writes no data file, so no index exists
    * after it (existence is "a part- file under the table path"): the next
    * batch starts the index, and a third batch's duplicate of it is
    * suppressed.
    */
  def allDroppedFirstBatch(k: Kind[IndexStore]): Unit = {
    val dir = graft.util.Scratch.fresh(s"${k.name}_empty_first")
    k.ingest(k.dropped(spark), 0L, dir)
    k.put(1L, dir, 1L -> 0)
    k.put(2L, dir, 20L -> NearA, 21L -> 2)
    assert(k.indexSet(spark, dir) === Set((1L, 1L), (2L, 21L)),
      s"index after an all-dropped first batch: ${k.indexSet(spark, dir)}")
  }
}
