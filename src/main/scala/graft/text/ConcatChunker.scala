package graft.text

import graft.core._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Concat-and-chunk training example assembly (the GPT construction:
  * documents are concatenated in a deterministic global order and the
  * token stream is cut into fixed `contextLen` windows, chunks CROSSING
  * document boundaries — the complement of [[SequencePacker]], which
  * never splits a document). Emits one row per (document, window)
  * overlap: the window id and the token slice of the document that
  * falls in it — exactly the mapping a training-data writer needs to
  * assemble examples, without ever materializing the concatenated
  * stream itself.
  *
  * The global order is the [[CorpusShuffler]] convention (md5(id:seed),
  * id) so the "shuffle then pack into contexts" pipeline stage is one
  * operator. Only NARROW (id, tokenCount) rows ride the global range
  * sort — the document payload never enters it (an earlier draft sorted
  * full rows; at 100 TB that ships every text byte through a range
  * exchange whose sort buys nothing the id column doesn't). The global
  * running token offset is computed the way zipWithIndex computes
  * indices — one tiny job collecting per-partition token totals
  * (O(partitions) driver state), then a per-partition streaming scan
  * with the partition's start offset (shuffle map outputs reused, so
  * the narrow sort runs once) — and the resulting (id, offset, count)
  * rows hash-join back onto the input. Everything downstream is exact
  * integer arithmetic — window membership is `floor(offset /
  * contextLen)` — which is what makes the operator hash-gate replayable
  * in SQL (cumulative sum + integer division).
  * Eager: `transform` runs the sort and offset jobs, and materializes its
  * input once ([[graft.core.Barrier]]; a bare scan is read as is) for
  * them and the payload join. Those blocks, payload included, are not
  * recomputable: losing an executor that holds them fails the job, which
  * is re-run to recover.
  */
class ConcatChunker(override val uid: String) extends Transformer
    with HasInputCol with graft.core.GraftWritable {
  def this() = this(Identifiable.randomUID("ConcatChunker"))

  final val idCol = new Param[String](this, "idCol",
    "unique row id column (order-key input + tie-break)")
  setDefault(idCol -> "doc_id")
  def setIdCol(v: String): this.type = set(idCol, v)
  final val seed = new Param[String](this, "seed",
    "order seed, appended to the id before hashing")
  setDefault(seed -> "42")
  def setSeed(v: String): this.type = set(seed, v)
  final val contextLen = new IntParam(this, "contextLen",
    "tokens per training window", ParamValidators.gt(0))
  setDefault(contextLen -> 2048)
  def setContextLen(v: Int): this.type = set(contextLen, v)
  /** Optional precomputed token-count column (the [[SequencePacker]]
    * convention): real training windows are counted in TOKENIZER units,
    * so feed [[BPETokenizerModel]]'s `bpe_n_tokens` here and the recipe
    * composes end-to-end — BPE-encode once, chunk in BPE units. When
    * unset, the whitespace token count of `inputCol` is used. */
  final val lengthCol = new Param[String](this, "lengthCol",
    "numeric token-count column (computed from inputCol when unset)")
  def setLengthCol(v: String): this.type = set(lengthCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    for (c <- Seq("tok_offset", "chunk_id", "tok_start", "tok_end", "__n"))
      require(!ds.columns.contains(c), s"input already has a column named '$c'")
    val df = Barrier.materialize(ds.toDF())
    // narrow ordering pass: (id, tokenCount) only — 16-byte rows through
    // the global range sort, never the document payload
    val lenExpr =
      if (isSet(lengthCol)) col($(lengthCol)).cast("long")
      else size(UnigramLM.tokens(col(getInputCol))).cast("long")
    val sorted = df
      .select(col($(idCol)).cast("long").as("__cc_id"),
        lenExpr.as("__n"))
      .orderBy(
        md5(concat(col("__cc_id").cast(StringType), lit(":"), lit($(seed)))),
        col("__cc_id"))
    val rdd = sorted.rdd
    // job 1: per-partition token totals -> exclusive prefix offsets
    val partSums = rdd.mapPartitionsWithIndex { (p, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(1))
      Iterator((p, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    // job 2 (map outputs reused): streaming per-partition running offset
    val offSchema = StructType(Seq(
      StructField("__cc_id", LongType, nullable = false),
      StructField("__n", LongType, nullable = false),
      StructField("tok_offset", LongType, nullable = false)))
    val offFrame = df.sparkSession.createDataFrame(
      rdd.mapPartitionsWithIndex { (p, it) =>
        var cum = offsets(p)
        it.map { r =>
          val start = cum
          cum += r.getLong(1)
          Row(r.getLong(0), r.getLong(1), start)
        }
      }, offSchema)
    // payload joins the narrow (id, n, offset) frame by id — one hash
    // exchange of the corpus instead of a range sort of it
    val withOffset = df.join(offFrame,
      col($(idCol)).cast("long") === col("__cc_id")).drop("__cc_id")
    // window overlap: pure integer arithmetic, narrow
    val c = lit($(contextLen).toLong)
    // `div` is exact integer division (a double divide would lose
    // exactness past 2^53 global tokens — 100 TB of text is ~2^44,
    // uncomfortably close to care)
    val len = $(contextLen).toLong
    withOffset
      .filter(col("__n") > 0)
      .withColumn("chunk_id", explode(sequence(
        expr(s"tok_offset div $len"),
        expr(s"(tok_offset + __n - 1) div $len"))))
      .withColumn("tok_start",
        greatest(lit(0L), col("chunk_id") * c - col("tok_offset")))
      .withColumn("tok_end",
        least(col("__n"), (col("chunk_id") + 1) * c - col("tok_offset")))
      .drop("__n")
  }
  override def transformSchema(schema: StructType): StructType =
    StructType(schema ++ Seq(
      StructField("tok_offset", LongType, false),
      StructField("chunk_id", LongType, false),
      StructField("tok_start", LongType, false),
      StructField("tok_end", LongType, false)))
  override def copy(extra: ParamMap): ConcatChunker = defaultCopy(extra)
}
object ConcatChunker extends graft.core.GraftReadable[ConcatChunker]
