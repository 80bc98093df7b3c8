package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining pipelines: documents are conceptually
  * concatenated in a deterministic order and the token stream is cut every
  * `budget` tokens; a document's pack is the block containing its FIRST
  * token. This is the concat-then-chunk packing LLM pretraining uses —
  * a boundary-straddling document belongs to the pack it starts in, and a
  * document longer than the budget spans blocks but is assigned exactly one
  * pack. A pure window cumsum: deterministic, SQL-expressible, shuffle-once.
  *
  * Scale: packing runs per `groupCols` (shard/source/split), so the window
  * is partition-parallel — the global-total-order variant has the same
  * single-task bottleneck as any global sort and is deliberately not
  * offered; callers wanting one global stream should pack per shard and
  * treat (shard, pack) as the pack key.
  */
object Packing {

  /** Adds `packCol`: 0-based pack index within each `groupCols` group,
    * cutting every `budget` tokens in `orderCol` order (ties broken by the
    * order column being unique — pass a unique id).
    */
  def concatChunk(
      df: DataFrame, tokenCol: String, orderCol: String, budget: Long,
      groupCols: Seq[String], packCol: String = "pack_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(groupCols.nonEmpty,
      "groupCols required: global packing would funnel all rows through one task")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
    // exclusive running sum = offset of the document's first token
    val startOffset = coalesce(
      sum(col(tokenCol)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    // LONG integral divide (`div`), not `floor(double/double)`: Column./ is
    // double division, which silently rounds offsets past 2^53 — at odds
    // with the operator's exactness contract
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    val packId = ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(startOffset.cast("long")),
      ColumnBridge.expression(lit(budget))))
    df.withColumn(packCol, packId)
  }

  /** Materialize the actual fixed-length training blocks [[concatChunk]]
    * only indexes: per group, documents' token arrays (each followed by
    * `sepToken`, the EOS-between-docs convention, when given) are
    * conceptually concatenated in `orderCol` order and cut every `budget`
    * tokens; one output row per block with its exact token content —
    * blocks CROSS document boundaries, the GPT-style pretraining sample
    * shape. The final block of a group may be shorter than `budget`; every
    * other block is exactly `budget` tokens.
    *
    * Output: `groupCols`, `block_id` (0-based), `tokens` (array).
    *
    * Scale: the only per-token-volume shuffles are the two the shape
    * requires — the per-group window that assigns each document its global
    * token offset (partition-parallel across groups, like [[concatChunk]]
    * it refuses global packing), and the per-block reassembly aggregation
    * whose state is bounded by `budget` tokens per block. Everything
    * between is row-local: a document explodes into only the blocks it
    * intersects (`ceil(n/budget) + 1` rows, NOT one row per token) and
    * each intersection is one codegen'd `slice`. Block indices go through
    * integral `div`, not double division (exact past 2^53).
    */
  def materializeBlocks(
      df: DataFrame, tokensCol: String, orderCol: String, budget: Int,
      groupCols: Seq[String], sepToken: Option[String] = None): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(groupCols.nonEmpty,
      "groupCols required: global packing would funnel all rows through one task")
    import org.apache.spark.sql.functions.{size => arrayLen}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    def idiv(a: Column, b: Long): Column = ColumnBridge.column(
      IntegralDivide(ColumnBridge.expression(a), ColumnBridge.expression(lit(b))))
    val toks = sepToken.fold(col(tokensCol))(s =>
      concat(col(tokensCol), array(lit(s))))
    val base = df
      .select(groupCols.map(col) :+ col(orderCol).as("__ord") :+ toks.as("__t"): _*)
      .where(arrayLen(col("__t")) > 0)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__ord"))
    val start = coalesce(
      sum(arrayLen(col("__t")).cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val spanned = base
      .withColumn("__start", start)
      .withColumn("__n", arrayLen(col("__t")).cast("long"))
      .withColumn("block_id", explode(sequence(
        idiv(col("__start"), budget),
        idiv(col("__start") + col("__n") - 1, budget), lit(1L))))
      .withColumn("__from",
        greatest(lit(0L), col("block_id") * budget - col("__start")))
      .withColumn("__upto",
        least(col("__n"), (col("block_id") + 1) * budget - col("__start")))
      .withColumn("__piece", slice(col("__t"),
        (col("__from") + 1).cast("int"), (col("__upto") - col("__from")).cast("int")))
    spanned
      .groupBy(groupCols.map(col) :+ col("block_id"): _*)
      .agg(flatten(sort_array(collect_list(
          struct(col("__start"), col("__piece")))).getField("__piece"))
        .as("tokens"))
  }

  /** Doc-boundary-preserving packing — the OTHER convention from
    * [[concatChunk]]: next-fit bin packing in deterministic `orderCol`
    * order. Documents are never split; a document that does not fit the
    * current bin's remaining space closes the bin and opens the next
    * one. This is the no-cross-document-attention packing
    * instruction-tuning / T5-style pipelines use (every bin is padded to
    * `budget`, so `budget - fill` is the padding waste this operator
    * lets you account for); [[concatChunk]] is the GPT-style stream cut
    * that splits documents instead. A document LARGER than the budget
    * gets a bin of its own (fill > budget — flag or truncate downstream;
    * silently splitting it would violate the boundary contract).
    *
    * Adds `binCol`: 0-based bin index within each `groupCols` group.
    * Null token counts pack as 0 (the `sum`-skips-nulls convention of
    * [[concatChunk]]).
    *
    * Scale: the fill state is a true sequential recurrence (a window
    * cumsum cannot express the reset), so this is one of the repo's
    * justified `mapPartitions` sites: ONE hash shuffle on `groupCols`
    * co-locates each group, an in-partition sort orders it, and a single
    * streamed pass per partition carries (group, fill, bin) — parallel
    * across groups, O(rows) within, no state beyond three scalars. Like
    * [[concatChunk]] it refuses global packing: one group = one task.
    */
  def nextFitPack(
      df: DataFrame, tokenCol: String, orderCol: String, budget: Long,
      groupCols: Seq[String], binCol: String = "bin_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(groupCols.nonEmpty,
      "groupCols required: global packing would funnel all rows through one task")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sorted = df.repartition(groupCols.map(col): _*)
      .sortWithinPartitions(groupCols.map(col) :+ col(orderCol): _*)
    val schema = sorted.schema.add(binCol, LongType, nullable = false)
    val gIdx = groupCols.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex(tokenCol)
    val outRdd = sorted.rdd.mapPartitions { it =>
      var key: Seq[Any] = null
      var fill = 0L
      var bin = 0L
      it.map { r =>
        val n = r.get(tIdx) match {
          case null => 0L
          case x: Number =>
            val v = x.longValue()
            require(v >= 0, s"negative $tokenCol: $v")
            v
          case x => throw new IllegalArgumentException(
            s"non-numeric $tokenCol: $x")
        }
        val k = gIdx.map(r.get)
        if (key == null || k != key) { key = k; bin = 0L; fill = n }
        else if (fill + n > budget) { bin += 1; fill = n }
        else fill += n
        Row.fromSeq(r.toSeq :+ bin)
      }
    }
    df.sparkSession.createDataFrame(outRdd, schema)
  }

  /** Length-bucketed batching padding report — the dynamic-batching
    * planner's cost model: sequences land in equal-width length buckets
    * (`bucket = len div bucketWidth`), each bucket is batched `batchSize`
    * at a time in deterministic `(len desc, id)` order (longest-first, the
    * standard padding-minimizing order), and every batch pads to ITS OWN
    * max. Returns one row per bucket: `(bucket, n_seqs, n_batches,
    * total_tokens, padded_tokens, waste_tokens, efficiency)` where
    * `padded_tokens = sum over batches of n_in_batch * batch_max` (the
    * tokens a training step actually processes) and `efficiency` their
    * rounded ratio — the number that decides whether bucketing is worth
    * it vs naive global batching.
    *
    * Scale: ONE window exchange on the bucket key (the batch-forming sort
    * is the operator's semantics — longest-first within bucket), then two
    * aggregations that reuse the bucket partitioning. All arithmetic is
    * integer-exact except the final per-row ratio.
    */
  def paddingReport(
      df: DataFrame, lenCol: String, idCol: String,
      bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(batchSize > 0, "batchSize must be positive")
    val len = col(lenCol).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("__len").desc, col(idCol))
    val batched = df.where(col(lenCol).isNotNull)
      .select(col(idCol), len.as("__len"))
      .withColumn("bucket", expr(s"__len div $bucketWidth"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch", expr(s"CAST(__rn - 1 AS BIGINT) div $batchSize"))
    val perBatch = batched
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("__n"), max(col("__len")).as("__mx"),
        sum(col("__len")).as("__tot"))
    perBatch.groupBy(col("bucket"))
      .agg(sum(col("__n")).as("n_seqs"), count(lit(1)).as("n_batches"),
        sum(col("__tot")).as("total_tokens"),
        sum(col("__n") * col("__mx")).as("padded_tokens"))
      .select(col("bucket"), col("n_seqs"), col("n_batches"),
        col("total_tokens"), col("padded_tokens"),
        (col("padded_tokens") - col("total_tokens")).as("waste_tokens"),
        round(col("total_tokens").cast("double") / col("padded_tokens"), 6)
          .as("efficiency"))
  }

  /** Sliding-window chunking: one output row per context-window chunk of a
    * token-array column — windows of `size` tokens starting every `stride`
    * tokens (stride < size = overlapping chunks, the usual
    * long-document-into-context-window shape). The final window may be
    * shorter than `size`; every token appears in at least one chunk; rows
    * with empty token arrays produce no chunks. This is the OTHER packing
    * convention from [[concatChunk]]: chunking splits one long document
    * into many training rows, packing merges many short ones into a block.
    *
    * Output: the id columns plus `chunk_idx` (0-based) and `chunk`
    * (the token slice).
    *
    * Scale: row-local — `sequence` + `posexplode` + `slice` are all
    * codegen'd, no shuffle, no UDF; output size is rows x ceil(n/stride),
    * the same blow-up any chunker pays. Composable with any tokenizer that
    * yields an array column ([[graft.functions.text.tokens]] for the
    * shared-oracle one).
    */
  def slidingChunks(
      df: DataFrame, tokensCol: String, idCols: Seq[String],
      size: Int, stride: Int): DataFrame = {
    require(size > 0, "size must be positive")
    require(stride > 0 && stride <= size,
      "stride must be in [1, size]: stride > size would drop tokens")
    // the `size` param shadows functions.size for the array-length call
    import org.apache.spark.sql.functions.{size => arrayLen}
    val n = arrayLen(col(tokensCol))
    df.where(n > 0)
      .select((idCols.map(col) :+ col(tokensCol)) :+
        posexplode(sequence(lit(0), n - 1, lit(stride))).as(Seq("chunk_idx", "start")): _*)
      .withColumn("chunk", slice(col(tokensCol), col("start") + 1, lit(size)))
      .drop("start", tokensCol)
  }
}
