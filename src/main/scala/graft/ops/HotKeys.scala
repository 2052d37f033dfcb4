package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared hot-key machinery for the graph operators' skew splits
  * (Components' per-key min, PageRank's contribution join, BFS's
  * frontier join).
  *
  * The common shape: a FAT stream (edges) meets a per-key value (a
  * node's rank, frontier membership, its neighbors' minimum). Shuffling
  * the fat side on the key funnels every row of a Zipf-degree hub into
  * ONE reduce partition, and AQE's skew split does not apply when the
  * per-key side is an inline aggregate, a window or an un-sized
  * LogicalRDD. The fix is detection + split: keys whose fat-side
  * multiplicity (= degree) exceeds a threshold get their per-key value
  * from a broadcast table, so the hot rows are joined map-side and never
  * enter the shuffle; cold keys keep the shuffled plan, whose per-key
  * multiplicity is ≤ the threshold by construction. With no hot key both
  * primitives are exactly the shuffled plan.
  *
  * Unlike Components — whose edge set contracts every round and must
  * re-detect per half-round — BFS and PageRank iterate over a STATIC
  * edge multiset, so detection runs exactly once per call and amortizes
  * over all iterations/levels.
  */
object HotKeys {

  /** Driver-side bound on the broadcast hot-key set: ~1M rows, a LOUD
    * failure (with the knob named) rather than a silent driver OOM past
    * it. */
  val MaxHotKeys: Int = 1 << 20

  /** Per-key multiplicity above which a key is hot. Sized for a real
    * cluster: ~2M rows ≈ 64 MB at typical edge widths — the same order
    * as AQE's skew threshold — so ordinary graphs never pay the
    * broadcast arm. Specs and the `_hot` oracle entries force it down
    * to exercise the split. */
  val DefaultHotKeyThreshold: Long = 2L * 1000 * 1000

  /** Detection-time observability for the skew specs: how many keys take
    * the broadcast arm, and the max degree left in the shuffled (cold)
    * arm — the "no reduce task exceeds the bound" witness. */
  final case class Stats(nHotKeys: Int, maxColdDeg: Long)

  /** Hot rows of a per-key frame (key, `degCol`, payload…): the rows
    * whose degree exceeds `threshold`, minus the degree column, collected
    * under the [[MaxHotKeys]] bound and re-parallelized as a 1-partition
    * frame (so the broadcast arms of every later iteration reuse one
    * driver-local build instead of re-running the aggregate). A payload
    * (e.g. the key's min) rides the same collect, so detection is one
    * aggregate plus one bounded collect. Returns None when no key
    * exceeds the threshold — the caller keeps the stock plan. Fires
    * `observer` with the detection stats (the cold-max aggregate only
    * runs when an observer is installed). */
  def detect(spark: SparkSession, deg: DataFrame, degCol: String,
      threshold: Long, what: String,
      observer: Option[Stats => Unit] = None): Option[DataFrame] = {
    val hotRows = deg.filter(col(degCol) > threshold).drop(degCol)
    val hot: Array[Row] = hotRows.limit(MaxHotKeys + 1).collect()
    require(hot.length <= MaxHotKeys,
      s"$what: > $MaxHotKeys keys exceed the hot-key threshold " +
        s"$threshold — raise hotKeyThreshold (or MaxHotKeys) for this graph")
    observer.foreach { obs =>
      val maxCold = deg.filter(col(degCol) <= threshold)
        .agg(coalesce(max(col(degCol)), lit(0L))).head().getLong(0)
      obs(Stats(hot.length, maxCold))
    }
    if (hot.isEmpty) None
    else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(hot.toIndexedSeq, 1), hotRows.schema))
  }

  /** `fat ⋈ unique` on `key` with the two-phase hot split. `unique` MUST
    * be key-unique (one row per key — a rank vector, a frontier), so the
    * split is an exact partition of the join output:
    *   - hot fat rows: inner-join against the BROADCAST unique rows of
    *     the hot keys (one map-side join does both the membership filter
    *     and the payload attach);
    *   - cold fat rows: anti-join the broadcast hot keys, then the stock
    *     shuffled join — every surviving key's multiplicity is ≤ the
    *     detection threshold.
    * `hotKeys` is the (key-only) frame from [[detect]]; None → stock
    * join. */
  def joinFatUnique(fat: DataFrame, unique: DataFrame, key: String,
      hotKeys: Option[DataFrame]): DataFrame = hotKeys match {
    case None => fat.join(unique, key)
    case Some(hk) =>
      val uniqueHot = unique.join(broadcast(hk), key)
      fat.join(broadcast(uniqueHot), key)
        .unionAll(
          fat.join(broadcast(hk), Seq(key), "left_anti").join(unique, key))
  }

  /** `df` plus column `out` = the aggregate `agg` over `df`'s rows of the
    * same `key`, with the two-phase hot split:
    *   - cold keys: `agg.over(Window.partitionBy(key))` — one exchange on
    *     the key, no join;
    *   - hot keys: `out` comes from `hot` (key, `out`) — [[detect]]'s
    *     rows with `agg` as payload — through a broadcast join, so their
    *     rows never enter the window's shuffle.
    * `hot` = None → exactly the windowed plan. */
  def withKeyAgg(df: DataFrame, key: String, agg: Column, out: String,
      hot: Option[DataFrame]): DataFrame = {
    def windowed(d: DataFrame) =
      d.withColumn(out, agg.over(Window.partitionBy(col(key))))
    hot match {
      case None => windowed(df)
      case Some(h) =>
        df.join(broadcast(h), key).select((df.columns :+ out).map(col): _*)
          .unionAll(windowed(
            df.join(broadcast(h.select(key)), Seq(key), "left_anti")))
    }
  }
}
