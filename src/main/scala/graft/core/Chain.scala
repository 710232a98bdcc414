package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SaveMode, SparkSession}

/** One applied transform: operator name, deterministic output alias, and a
  * Spark-SQL fragment with a `{{source}}` placeholder for the previous step
  * (the reference's `Transform`, rasgoql/primitives/transforms.py:226-258).
  * `sqlFragment == None` and `fragmentFn == None` together mark ops whose
  * SQL text form is not supported (they still execute; `Chain.sql` reports
  * them). `fragmentFn` is the RENDER-TIME face: an op whose text requires
  * introspection the hot path must not pay (e.g. collecting a query set
  * into a VALUES literal) defers that work until someone actually renders.
  */
final case class TransformStep(
    op: String,
    alias: String,
    sqlFragment: Option[String],
    args: Map[String, String] = Map.empty,
    fragmentFn: Option[() => String] = None) {
  /** The step's SQL text, resolving a deferred face if present. */
  def sqlText: Option[String] = sqlFragment.orElse(fragmentFn.map(_()))
}

/** A lazy, immutable transform chain: the Spark `DataFrame` *is* the IR
  * (Catalyst optimizes through all steps); the parallel step list exists for
  * SQL-text rendering / dbt export parity with the reference's `SQLChain`
  * (rasgoql/primitives/transforms.py:261-429).
  *
  * Row work runs at a terminal verb (`preview`, `toLocal`, `save`), with
  * one declared exception: ops whose output depends on the data run an
  * eager, bounded driver action while the chain is built, as the
  * reference's compile-time `run_query` probes do —
  *   - schema-determining probes (one-hot and pivot values, label maps);
  *   - scalar statistics (impute's mean and median, standard_scaler,
  *     min_max_scaler, equal-width bin ranges), through
  *     [[CheckpointProbe.stats]];
  *   - fits and iterative loops (clustering, regressions, k-means,
  *     train_test_split's count).
  * Over a shuffled upstream the scalar statistics ride one
  * `localCheckpoint`, and the step builds on its blocks, so the prefix
  * runs once; those blocks, and every other checkpoint a step leaves,
  * are freed by [[releaseCheckpoints]].
  */
final class Chain private (
    val spark: SparkSession,
    val entryName: String,
    val df: DataFrame,
    val steps: Vector[TransformStep],
    superseded: Map[Int, org.apache.spark.rdd.RDD[_]]) {

  /** The checkpointed RDDs `df` reads, by id. */
  private lazy val checkpoints: Map[Int, org.apache.spark.rdd.RDD[_]] =
    Chain.checkpointedRdds(df).map(r => r.id -> r).toMap

  private def append(newDf: DataFrame, step: TransformStep): Chain = {
    val more = new Chain(spark, entryName, newDf, steps :+ step, superseded)
    // checkpoints a step left that a later step no longer reads (a sort
    // checkpointed over an earlier checkpoint) are out of reach of a walk
    // of the final plan: keep them for releaseCheckpoints. The reference
    // is strong on purpose: nothing else holds a superseded RDD, and
    // Spark's context cleaner would otherwise free its blocks at whatever
    // garbage collection comes first, not at the release
    val dropped = checkpoints -- more.checkpoints.keySet
    if (dropped.isEmpty) more
    else new Chain(spark, entryName, newDf, more.steps, superseded ++ dropped)
  }

  /** Append a step (functional — returns a new Chain, like the reference's
    * immutable chaining).
    */
  def next(op: String, newDf: DataFrame, fragment: Option[String],
           args: Map[String, String] = Map.empty): Chain =
    append(newDf, TransformStep(op, Naming.stepAlias(steps.length + 1), fragment, args))

  /** Append a step whose SQL face is computed only when rendered — for ops
    * whose text form needs driver introspection (e.g. a VALUES literal of
    * a collected frame) that the execute path must not pay per call.
    */
  def nextLazy(op: String, newDf: DataFrame, fragmentFn: () => String,
               args: Map[String, String] = Map.empty): Chain =
    append(newDf, TransformStep(op, Naming.stepAlias(steps.length + 1), None, args,
      Some(fragmentFn)))

  /** Functional escape hatch: any DataFrame=>DataFrame as a step. */
  def transformDf(op: String)(f: DataFrame => DataFrame): Chain =
    next(op, f(df), None)

  // ---- physical-layout surface (semantics-preserving; SQL faces render
  // pass-through because the rendered text describes the same relation)

  /** Planner hint on the current relation (`broadcast`, `merge`,
    * `shuffle_hash`, `rebalance`, …) — the knob for steering a join
    * strategy when AQE's size estimates are wrong at scale.
    */
  def hint(name: String, params: Any*): Chain =
    next(s"hint_$name", df.hint(name, params: _*), Some("SELECT * FROM {{source}}"))

  /** Free pipeline telemetry: attach named aggregate metrics that are
    * computed AS the next action runs — no extra scan, no second job. At
    * corpus scale a separate `count()` to log "rows surviving dedup"
    * re-runs the whole upstream pipeline; `observe` folds the metric into
    * the pass that's already happening (Spark's observable-metrics
    * AccumulatorV2 path). Read results from the
    * [[org.apache.spark.sql.Observation]] after any action on the chain's
    * frame, or fleet-wide via a QueryExecutionListener. Semantics-neutral:
    * the SQL face renders pass-through.
    */
  def observed(obs: org.apache.spark.sql.Observation, metrics: Seq[Column]): Chain = {
    require(metrics.nonEmpty, "observed needs at least one aggregate metric")
    next("observe", df.observe(obs, metrics.head, metrics.tail: _*),
      Some("SELECT * FROM {{source}}"))
  }

  /** Hash-repartition by columns — pre-shape a chain so several downstream
    * wide ops (windows, joins, aggs on the same keys) reuse one exchange.
    */
  def repartitionBy(cols: Seq[String], numPartitions: Option[Int] = None): Chain = {
    val d = numPartitions.fold(df.repartition(cols.map(df.col): _*))(n =>
      df.repartition(n, cols.map(df.col): _*))
    next("repartition", d, Some("SELECT * FROM {{source}}"))
  }

  /** Collapse to fewer partitions without a shuffle (small outputs,
    * pre-write file-count control).
    */
  def coalescePartitions(numPartitions: Int): Chain =
    next("coalesce", df.coalesce(numPartitions), Some("SELECT * FROM {{source}}"))

  /** Cache the chain's current state (lineage retained — lost blocks
    * recompute, unlike checkpointing). Use when several downstream
    * branches fan out from one expensive prefix; pair with
    * [[unpersistChain]] when the fan-out is done.
    */
  def persistChain(level: String = "MEMORY_AND_DISK"): Chain = {
    df.persist(org.apache.spark.storage.StorageLevel.fromString(level))
    next("persist", df, Some("SELECT * FROM {{source}}"))
  }

  /** Release a [[persistChain]] cache (non-blocking). */
  def unpersistChain(): Chain = {
    df.unpersist(blocking = false)
    next("unpersist", df, Some("SELECT * FROM {{source}}"))
  }

  // ---- terminal verbs (≅ SQLChain.preview/to_df/save, transforms.py:332-429)

  /** `d.write`, writing local tables without a forked process per file
    * ([[LocalFs.quiet]]).
    */
  private def write(d: DataFrame) = LocalFs.quiet(spark, d.write)

  /** Top-n rows (reference preview appends LIMIT 10). */
  def preview(n: Int = 10): Array[Row] = df.limit(n).collect()

  def toLocal(): Array[Row] = df.collect()

  def toLocalIterator(): java.util.Iterator[Row] = df.toLocalIterator()

  /** Materialize as a managed parquet table or a (temp) view.
    * table_type TABLE|VIEW, overwrite guard like snowflake.py:260-266.
    */
  def save(name: String, tableType: String = "TABLE", overwrite: Boolean = false): Unit =
    tableType.toUpperCase match {
      case "TABLE" =>
        if (!overwrite && spark.catalog.tableExists(name))
          throw new IllegalStateException(
            s"table $name exists; pass overwrite=true to replace")
        write(df).mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
          .format("parquet").saveAsTable(name)
      case "VIEW" =>
        if (!overwrite && spark.catalog.tableExists(name))
          throw new IllegalStateException(
            s"view $name exists; pass overwrite=true to replace")
        df.createOrReplaceTempView(name)
      case other => throw new IllegalArgumentException(s"unknown table type $other")
    }

  /** Materialize as a PARTITIONED managed parquet table — one directory
    * per distinct value combination of `partitionCols`. Reads that filter
    * on partition columns prune whole directories before any I/O (the
    * other half of the 100 TB layout investment next to
    * [[saveBucketed]]): date/source/language partitions turn full-corpus
    * scans into touched-partition scans. Choose low-cardinality columns —
    * a high-cardinality partition key explodes the file count.
    */
  def savePartitioned(name: String, partitionCols: Seq[String],
                      overwrite: Boolean = false): Unit = {
    require(partitionCols.nonEmpty, "partitioned save needs partition columns")
    if (!overwrite && spark.catalog.tableExists(name))
      throw new IllegalStateException(
        s"table $name exists; pass overwrite=true to replace")
    write(df).mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .format("parquet")
      .partitionBy(partitionCols: _*)
      .saveAsTable(name)
  }

  /** Append the chain's rows to a managed parquet table, creating it when
    * missing — the reference's WriteMethod.APPEND
    * (rasgoql/primitives/enums.py:115-122, data/snowflake.py:465-490),
    * the write mode every incremental pipeline runs on. Columns are
    * matched by name; a schema mismatch fails loudly rather than
    * null-padding.
    */
  def saveAppend(name: String): Unit =
    write(df).mode(SaveMode.Append).format("parquet").saveAsTable(name)

  /** Key-based upsert (insert-or-replace): rows matching an existing row
    * on `keys` replace it, everything else appends; creates the table when
    * missing. Parquet has no ACID merge, so the merge is declared
    * relational algebra — `new ∪ (old ANTI JOIN new.keys)` — staged to a
    * temporary table and swapped in with RENAME (never read-and-overwrite
    * the same table, which Spark rejects mid-scan). One anti-join shuffle
    * (AQE broadcasts the key set when small) plus a table rewrite: the
    * honest cost of upsert on a plain columnar store; swap in a
    * transactional format for partial rewrites.
    */
  def saveUpsert(name: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    keys.foreach(k => require(df.columns.contains(k), s"upsert key $k not in chain columns"))
    require(keys.forall(k => !k.startsWith("_nk_")),
      s"upsert keys may not start with the internal rename prefix _nk_: $keys")
    import org.apache.spark.sql.functions.col
    if (!spark.catalog.tableExists(name)) {
      write(df).mode(SaveMode.ErrorIfExists).format("parquet").saveAsTable(name)
    } else {
      // NULL-SAFE anti-join: a null key value must still match its stored
      // row ("same key" semantics), or every re-delivery of a null-keyed
      // row duplicates instead of overwriting; new-side keys renamed so
      // the anti-join can't hit ambiguous-column resolution
      val newKeys = df.select(keys.map(k => df.col(k).as(s"_nk_$k")): _*).distinct()
      val cond = keys.map(k => col(k) <=> col(s"_nk_$k")).reduce(_ && _)
      val kept = spark.table(name).join(newKeys, cond, "left_anti")
      val merged = df.unionByName(kept)
      val staging = s"${name}_graft_upsert_staging"
      val retired = s"${name}_graft_upsert_retired"
      write(merged).mode(SaveMode.Overwrite).format("parquet").saveAsTable(staging)
      // three-step swap: the live name is never dangling — a crash leaves
      // either the old table or the new one reachable, plus a recoverable
      // *_retired / *_staging copy
      spark.sql(s"DROP TABLE IF EXISTS `$retired`")
      spark.sql(s"ALTER TABLE `$name` RENAME TO `$retired`")
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$name`")
      spark.sql(s"DROP TABLE `$retired`")
      // the swap invalidates any cached file listing a previous reader of
      // `name` left in the session catalog — without this, the next
      // spark.table(name) can resolve to the retired files and fail with
      // FILE_NOT_EXIST (bites any long session that read before upserting)
      spark.catalog.refreshTable(name)
    }
  }

  /** Materialize as a BUCKETED managed parquet table: rows hash-partitioned
    * into `buckets` files per partition by `keys`, sorted within buckets.
    * Joins and aggregations between tables bucketed the same way on the
    * same keys run WITHOUT a shuffle (Catalyst sees the bucketing as a
    * satisfied distribution) — the standard layout investment for a fact
    * table that's joined on the same key by every downstream query. At
    * 100 TB this turns the biggest recurring exchange into a one-time
    * write cost.
    */
  def saveBucketed(name: String, keys: Seq[String], buckets: Int,
                   overwrite: Boolean = false): Unit = {
    require(keys.nonEmpty && buckets > 0, "bucketed save needs keys and buckets > 0")
    if (!overwrite && spark.catalog.tableExists(name))
      throw new IllegalStateException(
        s"table $name exists; pass overwrite=true to replace")
    // align write partitions with the bucket function BEFORE writing:
    // bucket assignment and repartition both hash with Murmur3, so with
    // numPartitions = buckets each task holds exactly one bucket's rows
    // and writes ONE file. Unaligned input writes up to tasks × buckets
    // files — the classic bucketed-table file explosion at scale.
    write(df.repartition(buckets, keys.map(df.col): _*))
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(name)
  }

  /** Append to a [[saveBucketed]] table, restating its bucket spec (Spark
    * rejects an append whose bucketing differs from the table's) and
    * aligning write partitions with the bucket hash — one file per bucket
    * per append. The ingest half of every persistent-index pattern
    * (minhash postings, tf-idf postings): each batch appends O(batch)
    * rows; nothing rewrites history.
    */
  def appendBucketed(name: String, keys: Seq[String], buckets: Int): Unit = {
    require(keys.nonEmpty && buckets > 0, "bucketed append needs keys and buckets > 0")
    write(df.repartition(buckets, keys.map(df.col): _*))
      .mode(SaveMode.Append)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(name)
  }

  /** Materialize as a Z-ORDERED parquet table: rows are clustered along a
    * Morton curve over the quantile bins of `zCols`, so parquet row-group
    * min/max statistics stay narrow on EVERY z column at once — a
    * selective pushed-down filter on ANY of them (not just a prefix, as
    * with plain sort) skips most row groups at scan time. The third layout
    * investment next to [[savePartitioned]] (directory pruning on one
    * low-cardinality column) and [[saveBucketed]] (equi-join co-location):
    * z-ordering serves multi-dimensional range/point predicates on
    * high-cardinality columns.
    *
    * Mechanics: cut points for each column come from ONE bounded
    * `approxQuantile` driver job (the declared stats action the encoders
    * also use); each row's bins interleave in a native codegen kernel
    * ([[graft.functions.ZValue]]); the write range-partitions and sorts by
    * the z value, then drops it. Quantile (equal-mass) cells keep the
    * curve balanced under skew where equal-width cells would collapse.
    * Numeric, date and timestamp columns cluster by range; string columns
    * cluster by hash (equality pruning only — range predicates on strings
    * gain nothing).
    */
  def saveZOrdered(name: String, zCols: Seq[String], overwrite: Boolean = false,
                   bits: Int = 6, relErr: Double = 0.01, files: Int = 0): Unit = {
    require(zCols.nonEmpty, "z-ordered save needs z columns")
    require(bits >= 1 && bits * zCols.size <= 63,
      s"bits ($bits) x columns (${zCols.size}) must fit in a long")
    if (!overwrite && spark.catalog.tableExists(name))
      throw new IllegalStateException(
        s"table $name exists; pass overwrite=true to replace")
    import org.apache.spark.sql.functions._
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val zExprs = zCols.map { cn =>
      types(cn) match {
        case _: org.apache.spark.sql.types.NumericType => col(cn).cast("double")
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col(cn).cast("timestamp")).cast("double")
        case _ => xxhash64(col(cn)).cast("double")
      }
    }
    val qNames = zCols.indices.map(i => s"_zq_$i")
    // NaN is excluded from the cut-point derivation explicitly (NaN → null;
    // approxQuantile ignores nulls): a NaN that slipped into a cut array
    // would poison the bin binary search for EVERY row of that column.
    // NaN rows themselves bin to 0 alongside nulls (ZValue) — they cluster
    // at the curve's origin instead of skewing a data-bearing cell.
    val projected = df.select(zExprs.zip(qNames).map { case (e, n) =>
      when(!isnan(e), e).as(n) }: _*)
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val cuts = projected.stat.approxQuantile(qNames.toArray, probs, relErr).toSeq
    val zv = graft.functions.ZValue(zExprs, cuts.map(_.clone()), bits)
    val parts = if (files > 0) files else spark.conf.get("spark.sql.shuffle.partitions").toInt
    write(df.withColumn("_graft_z", zv)
      .repartitionByRange(parts, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z"))
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Spark-SQL text of the chain (reference RenderMethod.SELECT / TABLE /
    * VIEW / VIEWS, primitives/enums.py:69-77, rendering.py:29-96).
    */
  def sql(renderMethod: String = "SELECT", name: String = "graft_out"): String =
    SqlRender.render(this, renderMethod, name)

  def schema: org.apache.spark.sql.types.StructType = df.schema
  def ddl: String = df.schema.toDDL

  /** Export as a dbt model (model.sql + schema.yml + dbt_project.yml ≅
    * reference to_dbt, transforms.py:377-419).
    */
  def toDbt(outputDir: String, modelName: String, materialize: String = "view"): Seq[String] =
    graft.render.DbtExport.toDbt(this, outputDir, modelName, materialize)

  /** Release the checkpoint blocks this chain's steps left: every one
    * embedded in the final plan (see [[Chain.releaseCheckpoints]]) and every
    * one an earlier step created that a later checkpoint superseded.
    * Persisted (cached) inputs are never released. Terminal: call after
    * the last read of this chain and anything derived from it.
    */
  def releaseCheckpoints(): Unit = {
    Chain.releaseCheckpoints(df)
    superseded.values.foreach { rdd =>
      if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        GraftBridge.unpersistQuietly(rdd)
    }
  }

  /** Plan-shape guardrails ([[ScaleLint]]): inspect the compiled plan for
    * shapes that don't survive cluster scale.
    */
  def scaleFindings: Seq[ScaleLint.Finding] = ScaleLint.lint(df)

  /** Throw if the chain's plan contains a scale-unsafe shape (cartesian /
    * nested-loop join, unpartitioned window, buried global sort); returns
    * this chain for fluent use — `chain.assertScaleSafe().save(...)`.
    */
  def assertScaleSafe(): Chain = { ScaleLint.assertSafe(df); this }
}

object Chain {
  def apply(spark: SparkSession, entryName: String, df: DataFrame): Chain =
    new Chain(spark, entryName, df, Vector.empty, Map.empty)

  /** Release EVERY checkpoint block embedded in a frame's plan: walks the
    * analyzed plan and unpersists each `LogicalRDD`'s blocks. This is the
    * documented release hook for results of iterative operators
    * ([[graft.ext.DedupClusterOps]] cluster labels, `dedupNear` output):
    * their final frames are plan-truncated via `localCheckpoint`, so the
    * blocks stay alive for the consumer — call this once NOTHING will read
    * the frame (or anything derived from it) again. A truncated plan cannot
    * recompute: reading after release fails rather than silently rescanning.
    */
  def releaseCheckpoints(df: DataFrame): Unit =
    checkpointedRdds(df).foreach { rdd =>
      if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        GraftBridge.unpersistQuietly(rdd)
    }

  /** The checkpointed RDDs a frame's plan reads, stopping at each one. */
  private def checkpointedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] = {
    // walk each embedded RDD's dependency ancestors too: an op that maps
    // over a checkpointed RDD (the PrefixScan shape — localCheckpoint,
    // then mapPartitions) surfaces the UNPERSISTED map RDD in the plan
    // while the persisted blocks hide one dependency down
    // iterative walk with a visited set: a plan-embedded RDD usually has
    // a checkpoint-truncated (shallow) lineage, but the hook must also be
    // safe on arbitrary frames — deep lineages would blow a recursive
    // stack and diamond dependencies would re-visit
    //
    // blast radius: only CHECKPOINTED RDDs are unpersisted (graft's
    // materializations are all localCheckpoints), and the walk STOPS at a
    // checkpoint boundary — blocks beyond one (a user-persisted input
    // RDD, a sibling frame's shared cache one dependency down) belong to
    // someone else and stay alive. A frame the USER localCheckpointed and
    // fed in is indistinguishable from graft's own and is released too —
    // callers sharing such frames must not call this hook on them.
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val stack = scala.collection.mutable.ArrayDeque.empty[org.apache.spark.rdd.RDD[_]]
    val found = Seq.newBuilder[org.apache.spark.rdd.RDD[_]]
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => stack.append(lr.rdd)
      case _ => ()
    }
    while (stack.nonEmpty) {
      val rdd = stack.removeLast()
      if (seen.add(rdd.id)) {
        if (rdd.isCheckpointed) found += rdd
        else rdd.dependencies.foreach(d => stack.append(d.rdd))
      }
    }
    found.result()
  }
}
