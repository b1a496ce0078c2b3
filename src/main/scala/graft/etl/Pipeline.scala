package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{EtlFunctions, RunStamp}

/** The end-to-end unification pipeline: extract → transform → merge →
  * final-cast → load (reference `src/etl/datapipeline.py:60-189`), rebuilt
  * as ONE lazy DataFrame lineage so Catalyst pushes filters/pruning into the
  * scans and the whole job is a single narrow pipeline until the (optional)
  * dedup shuffle.
  *
  * Scale posture: per-platform transforms are pure projections (no shuffle);
  * dedup is a window over the key (one shuffle); the merge is UNION ALL (no
  * shuffle); the final cast is a projection. At 100 TB the only exchange in
  * the whole plan is the dedup — and it's skipped for platforms without a
  * dedup key.
  *
  * After the dedup, each step is one analyzer pass: one select of the
  * derivations and one conjunctive required-field filter per platform, one
  * aligning select per platform in the merge, one select for the final
  * cast. [[runReport]] builds the per-platform frames once; its emptiness
  * probe and its load run those same frames.
  *
  * `now` is the value of every row's `created_at`. By default it is a
  * [[graft.functions.RunStamp]] taken on the driver when [[transform]],
  * [[run]] or [[runReport]] is called: one value per run, like the
  * reference's eager `now` (`src/etl/transformation.py:165,325,495-496`).
  * The stamp is read by reference in generated code, so repeated runs reuse
  * the compiled classes. Pass a fixed timestamp column to pin it.
  */
object Pipeline {

  /** A5-ish control-plane directive for one platform. */
  sealed trait Directive
  case object Latest extends Directive
  case object Skip extends Directive
  final case class Exact(date: String) extends Directive

  /** Generic per-platform transform (replaces the reference's 3 hand-written
    * transformer classes, `src/etl/transformation.py:20-537`). Order of
    * operations mirrors the reference: dedup first (A22), then column
    * derivations, then required-field drop (A23) as one conjunctive filter —
    * Catalyst pushes its IsNotNull conjuncts down through the projection
    * anyway (§4.1). A key group whose first row lacks a required field
    * therefore contributes no row: keep-first picks before the filter. */
  def transform(raw: DataFrame, spec: PlatformSpec, now: Column = RunStamp.current()): DataFrame = {
    // A22 — deterministic keep-first on input order.
    val deduped = spec.dedupKey match {
      case Some(k) =>
        val ordered = raw.withColumn("__ord", monotonically_increasing_id())
        val w = Window.partitionBy(col(k)).orderBy(col("__ord"))
        ordered.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__ord", "__rn")
      case None => raw
    }
    // Column derivations: one wide select of the spec's expressions.
    val present = raw.columns.toSet
    val exprs =
      if (spec.passthrough) spec.exprs.filter { case (pretty, _) => present(pretty) }
      else spec.exprs
    val derived = deduped.select(
      Canonical.fields.collect {
        case f if exprs.contains(f.pretty) => exprs(f.pretty).as(f.pretty)
      } :+ lit(spec.platformId).as("platform_id") :+ now.as("created_at"): _*)
    // A23 — required-field filter.
    if (spec.required.isEmpty) derived
    else derived.filter(spec.required.map(c => col(c).isNotNull).reduce(_ && _))
  }

  /** A25 — schema-align union: one select per frame adds the missing
    * canonical columns as typed nulls and renames pretty → snake, then
    * UNION ALL (never a join). Ref: `src/etl/merging.py:6-28` +
    * `src/utils/mapping.py`. */
  def merge(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "merge of zero frames")
    val aligned = frames.map { df =>
      val have = df.columns.toSet
      df.select(Canonical.fields.map { f =>
        val c = if (have(f.pretty)) col(f.pretty) else lit(null).cast(f.dataType)
        c.as(f.snake)
      }: _*)
    }
    aligned.reduce(_.unionByName(_))
  }

  /** A26 + A27 — final typed cast to the DWH schema plus the deterministic
    * UUIDv5 record key, in one select. Ref: `src/utils/types_transform.py:7-90`. */
  def finalCast(df: DataFrame): DataFrame = {
    val uid = EtlFunctions.uuid5Key(
      col("listing_id").try_cast("long"), col("platform_id").try_cast("int"))
    df.select(Canonical.fields.map(f =>
      Canonical.castExpr(f, if (f.snake == "uid") uid else col(f.snake))): _*)
  }

  /** The per-platform transforms in staging order (platform name). */
  private def transformAll(rawByPlatform: Map[String, DataFrame],
      now: Column): Seq[(String, DataFrame)] =
    rawByPlatform.toSeq.sortBy(_._1).map { case (name, raw) =>
      name -> transform(raw, PlatformSpecs.byName(name), now)
    }

  /** The one assembly path over transformed frames: merge → final cast.
    * [[run]], [[runReport]] and the streaming foreachBatch deployment all
    * go through it, so they can never diverge in staging order or merge
    * semantics. */
  private def assemble(transformed: Seq[DataFrame]): DataFrame =
    finalCast(merge(transformed))

  /** Full run over pre-loaded raw frames (extract is the caller's concern —
    * see Tables.csv / Tables.tableIfExists for the tolerant A1/A2 readers). */
  def run(rawByPlatform: Map[String, DataFrame],
      now: Column = RunStamp.current()): DataFrame =
    assemble(transformAll(rawByPlatform, now).map(_._2))

  /** The reference's run report (`src/etl/datapipeline.py:110-189`): a
    * status + per-stage row counts. */
  final case class RunReport(status: String, message: String,
      rowsByPlatform: Map[String, Long], totalRows: Long)

  /** Transform, probe for emptiness, then hand the observed unified frame to
    * `load`. The per-platform frames are built once; the probe and the load
    * run those same frames.
    *
    * Emptiness is checked BEFORE the sink runs, like the reference — a
    * truncate-and-reload sink must never execute for an empty run and then
    * have the report claim "no_data" as if nothing happened. merge and
    * finalCast never drop rows, so the unified frame is empty exactly when
    * every platform frame is. The probe runs one limit-1 job per platform
    * frame it checks and stops at the first non-empty one. Frames without a
    * dedup key go first: their plan has no exchange, so the check reads
    * only up to the first kept row. Dedup frames are checked only if all of
    * those are empty, and after their dedup, as loaded — keep-first runs
    * before the required-field filter.
    *
    * Counts come from `Observation` metrics attached to the same platform
    * frames and to the unified frame, so they are collected DURING the load
    * action — the reference pays a `len(df)` materialization per stage;
    * here the counts add no pass and work identically on a cluster. */
  def runReport(rawByPlatform: Map[String, DataFrame],
      now: Column = RunStamp.current(),
      metricsTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(30, "s"))(
      load: DataFrame => Unit): RunReport = {
    if (rawByPlatform.isEmpty)
      return RunReport("no_data", "No platforms returned data.", Map.empty, 0L)
    val transformed = transformAll(rawByPlatform, now)
    val probeOrder = transformed.sortBy { case (name, _) =>
      PlatformSpecs.byName(name).dedupKey.isDefined }
    if (probeOrder.forall { case (_, df) => df.isEmpty })
      return RunReport("no_data", "Unified DataFrame is empty.", Map.empty, 0L)
    val perPlatform = rawByPlatform.keys.map(p =>
      p -> org.apache.spark.sql.Observation(s"rows_$p")).toMap
    val totalObs = org.apache.spark.sql.Observation("rows_total")
    val unified = assemble(transformed.map { case (name, df) =>
        df.observe(perPlatform(name), count(lit(1)).as("n")) })
      .observe(totalObs, count(lit(1)).as("n"))
    try {
      load(unified)
      // Bounded wait, not the unbounded blocking get: the metrics listener
      // fires asynchronously after the action, but a load callback that
      // never ran a Spark action over `unified` must surface as an error,
      // not hang this thread forever waiting for metrics that will never
      // arrive.
      def metric(o: org.apache.spark.sql.Observation): Option[Long] =
        try Some(scala.concurrent.Await.result(o.future, metricsTimeout).getAs[Long]("n"))
        catch { case _: java.util.concurrent.TimeoutException => None }
      val total = metric(totalObs)
      if (total.isEmpty)
        return RunReport("error",
          "Load callback completed without executing the unified frame.", Map.empty, -1L)
      val per = perPlatform.map { case (p, o) => p -> metric(o).getOrElse(0L) }
      RunReport("success", "Data loaded.", per, total.get)
    } catch {
      case e: Exception =>
        RunReport("error", s"Load error: ${e.getMessage}", Map.empty, -1L)
    }
  }

  /** A28/A29 — sinks. Parquet is the cluster-native path (partitioned by
    * platform so downstream reads prune); CSV mirrors the reference's test
    * loader; JDBC mirrors the ClickHouse truncate-and-reload semantics. */
  object Sinks {
    def parquet(df: DataFrame, path: String): Unit =
      df.write.mode(SaveMode.Overwrite).partitionBy("platform_id").parquet(path)

    /** Reference CSVLoader (`src/etl/loading.py:56-75`): single header CSV.
      * coalesce(1) is test-scale only, as in the reference. */
    def csv(df: DataFrame, path: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

    /** Reference ClickHouseLoader (`src/etl/loading.py:14-53`): TRUNCATE then
      * chunked insert == JDBC overwrite+truncate; 50k-row chunks == batchsize.
      * [[ClickHouseDialect]] supplies the type mapping when the URL is a
      * real ClickHouse endpoint (registration is idempotent and inert for
      * every other URL — Derby/postgres writes are untouched). */
    def jdbc(df: DataFrame, url: String, table: String, batchSize: Int = 50000): Unit = {
      ClickHouseDialect.register()
      df.write.mode(SaveMode.Overwrite)
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", "true")
        .option("batchsize", batchSize)
        .save()
    }
  }

  /** A4/A5 — latest-partition discovery + date resolution over a file layout
    * `prefix/{platform}_{yyyyMMdd}.csv`. Driver-side control plane (the
    * reference's PlatformsDateResolver, `src/utils/checking_s3_data.py`). */
  def resolveDates(spark: SparkSession, folder: String,
      directives: Map[String, Directive]): Map[String, Option[String]] = {
    val p = new org.apache.hadoop.fs.Path(folder)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // the whole name must match, as in the reference's `^...$` pattern
    val rx = """(\w+)_(\d{8})\.csv""".r
    val latest: Map[String, String] =
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).toSeq
        .flatMap(st => st.getPath.getName match {
          case rx(platform, date) => Some((platform, date))
          case _ => None
        })
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap // A4: max(date) per platform
    directives.map {
      case (pl, Skip) => pl -> None
      case (pl, Latest) => pl -> latest.get(pl)
      // explicit date honored only if the platform has a file and the date
      // is <= its latest (A5 semantics); no file for that date is required
      case (pl, Exact(d)) => pl -> latest.get(pl).filter(_ >= d).map(_ => d)
    }
  }
}
