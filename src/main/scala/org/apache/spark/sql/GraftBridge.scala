package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge. Spark 4 made the conversion
  * utilities `private[sql]`; custom Expressions (graft.expressions.*) still
  * need them, so this object re-exports the two calls from inside the sql
  * package — the standard idiom for Spark extension libraries.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Test access: the optimizer rules a SparkSessionExtensions would
    * install (the builder hook itself is private[sql]).
    */
  def optimizerRules(ext: SparkSessionExtensions, session: SparkSession)
      : Seq[catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session)

  /** Test access: execute an arbitrary logical plan, e.g. one an optimizer
    * rule just transformed by hand.
    */
  def ofRows(session: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** The Spark schema of one parquet file, made nullable as inference
    * makes it, read from its footer on the driver with the helpers
    * parquet schema inference uses
    * (`ParquetFileFormat.mergeSchemasInParallel` runs the same two calls
    * inside a Spark job): the footer without row groups, then the Spark
    * row metadata if the writer left it, else the converted parquet
    * schema under the session's conf (`nanosAsLong`, timestamp_ntz
    * inference, binary-as-string). `ParquetFileFormat.readSchemaFromFooter`
    * is package-private, hence the bridge.
    */
  def parquetFooterSchema(session: SparkSession,
      file: org.apache.hadoop.fs.FileStatus,
      hadoopConf: org.apache.hadoop.conf.Configuration): types.StructType = {
    import execution.datasources.parquet._
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, hadoopConf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        session.asInstanceOf[classic.SparkSession].sessionState.conf))
      .asNullable
  }

  /** The name filter of Spark's file index: `_`- and `.`-prefixed names
    * are skipped (partition directories like `_c=1`, `_metadata` and
    * `_common_metadata` excepted), as are `._COPYING_` files.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The errors `spark.read.parquet` raises for a missing path
    * (`PATH_NOT_FOUND`) and for a path with no file to take a schema from
    * (`UNABLE_TO_INFER_SCHEMA`); the constructors are `private[sql]`.
    */
  def pathNotFound(qualifiedPath: String): Throwable =
    errors.QueryCompilationErrors.dataPathNotExistError(qualifiedPath)
  def unableToInferParquetSchema(): Throwable =
    errors.QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")

  /** Test access: block until every event posted so far has reached the
    * listeners, so a counting SparkListener reads a settled total (the
    * bus delivers asynchronously; the wait itself is private[spark]).
    */
  def drainListeners(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()

  /** Run `hook` at JVM exit, before the SparkContext's own stop hook
    * (Spark's hook manager runs higher priorities first), so a session
    * that is never stopped explicitly can still clean up through itself.
    */
  def beforeContextShutdown(hook: () => Unit): Unit = {
    import org.apache.spark.util.ShutdownHookManager
    ShutdownHookManager.addShutdownHook(
      ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY + 1)(hook)
    ()
  }
}
