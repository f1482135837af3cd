package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column <-> Expression converters
  * (Spark 4 wraps Column around ColumnNode; the classic converter lives
  * behind `org.apache.spark.sql.classic.ExpressionUtils`). Placing this
  * object inside the sql package is the standard extension-library
  * technique for registering custom Catalyst expressions as Columns.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered
    * (the bus is `private[spark]`), so listener-side counters are
    * complete when a timed action returns. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Column -> ANALYZABLE Catalyst tree. [[expression]] wraps the
    * column's node in an opaque `ColumnNodeExpression` — fine when the
    * classic Dataset API converts it later, but a FunctionRegistry
    * builder must hand the analyzer a real tree (the wrapper is
    * Unevaluable, and analysis does not descend into it: registered
    * functions built from Column compositions failed at codegen with
    * INTERNAL_ERROR). This runs the same converter the Dataset API
    * applies, yielding UnresolvedFunction nodes the analyzer resolves
    * in place. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Input-type declarations for graft's fused kernels. They live HERE
    * because `AbstractDataType` (the type of `inputTypes`) is
    * private[sql]: the kernels in graft.functions cannot name it, but
    * need ImplicitCastInputTypes so the SQL registrations
    * (graft_dot & co.) coerce or reject mis-typed inputs at ANALYSIS —
    * without declared input types, an array<int> child passed analysis
    * and getDouble read 8-byte strides over 4-byte cells: silently
    * wrong scores. */
  trait ArrayDoubleBinaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.ArrayType(types.DoubleType), types.ArrayType(types.DoubleType))
  }

  /** array<tinyint> inputs: wider numeric arrays are implicitly CAST
    * down (correct values; out-of-range elements fail the ANSI cast
    * loudly) instead of letting getByte read 1-byte strides across
    * 4-byte cells. */
  trait ArrayByteBinaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.ArrayType(types.ByteType), types.ArrayType(types.ByteType))
  }

  /** STRICT string input (r12, for the text kernels' SQL surface):
    * plain ExpectsInputTypes, deliberately NOT ImplicitCastInputTypes —
    * a numeric column fed to a shingling/repetition kernel is a bug to
    * reject at analysis, not data to stringify silently. */
  trait StringUnaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] = Seq(types.StringType)
  }

  /** Strict array<string> input (MinHash kernels: the child is a
    * shingle array; anything else mis-hashes). */
  trait ArrayStringUnaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.ArrayType(types.StringType))
  }

  /** Analysis-time strict STRING pin for Column-COMPOSED SQL functions
    * — the registrations with no dedicated kernel Expression to carry
    * [[StringUnaryInputs]]. A transparent pass-through that only
    * declares its child must be a string: without it, a registered
    * composition like graft_lang_guess(42) sails through analysis
    * because the built-ins underneath (split, regexp_replace) carry
    * ImplicitCastInputTypes and silently STRINGIFY numbers — the exact
    * bug class the strict traits exist to reject (r12). Wrap the
    * argument before composing: `f(column(GraftStrictString(arg)))`.
    * Codegen delegates to the child verbatim (no codegen wall, no
    * second evaluation); eval likewise.
    *
    * A bare NULL literal (NullType — `graft_pii_redact(NULL)`, common
    * in generated SQL) is ACCEPTED: it carries no wrong-type
    * information for the pin to reject, and the functions' null-in/
    * null-out contract must hold for it exactly as for
    * CAST(NULL AS STRING). The declared dataType stays StringType, so
    * downstream composed built-ins type-check unchanged and the
    * constant null propagates. */
  case class GraftStrictString(child: Expression)
      extends catalyst.expressions.UnaryExpression
      with catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.TypeCollection(types.StringType, types.NullType))
    override def dataType: types.DataType = types.StringType
    override def prettyName: String = "graft_strict_string"
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      child.eval(input)
    override protected def doGenCode(
        ctx: catalyst.expressions.codegen.CodegenContext,
        ev: catalyst.expressions.codegen.ExprCode):
        catalyst.expressions.codegen.ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    override protected def withNewChildInternal(newChild: Expression): GraftStrictString =
      copy(child = newChild)
  }

  /** Strict BINARY input (the media codec kernels' SQL surface): raw
    * asset bytes are binary by contract; a string fed to an image
    * decoder is a bug to reject at analysis, not data to re-encode as
    * UTF-8 silently. A bare NULL literal passes (null-in/null-out,
    * same rule as every strict pin). */
  trait BinaryUnaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.TypeCollection(types.BinaryType, types.NullType))
  }

  /** Strict bigint x bigint inputs (graft_hamming64): fingerprints are
    * 63-bit longs by contract (graft_simhash63's output); a string —
    * or anything implicit coercion would quietly mangle — is a bug to
    * reject at analysis. Narrower integrals need an explicit CAST,
    * which is the caller declaring the fingerprint width on purpose.
    * A bare NULL literal passes (null-in/null-out, as for strings). */
  trait LongBinaryInputs
      extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    self: Expression =>
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.TypeCollection(types.LongType, types.NullType),
        types.TypeCollection(types.LongType, types.NullType))
  }

  /** Rebind `df` to a CLONE of its session carrying `confs`: any later
    * action on the returned frame plans and executes under those SQL
    * confs (`SQLExecution.withNewExecutionId` runs every action under
    * the owning session's conf via `withSQLConfPropagated`), while the
    * caller's session — and every other query — is untouched. This is
    * the per-DataFrame conf-scoping mechanism: operators that NEED a
    * non-default runtime conf (e.g. a raised ObjectHashAggregate
    * fallback threshold whose safety the operator itself guarantees)
    * apply it here instead of mutating the shared session.
    *
    * `cloneSession` copies session state (temp views, registered
    * functions, injected extensions, current conf) and shares the
    * SparkContext and SharedState (cache manager, catalog), so plans
    * referencing temp views or cached relations resolve identically.
    *
    * The clone is CACHED per (session, confs): hot callers (every
    * Bloom-positive ingest batch, every capPerKey action) would
    * otherwise build a fresh SessionState — and register a new
    * listener on the shared bus, reclaimed only at GC — per call. The
    * cache also closes a correctness hole the old "session already has
    * these values" fast path opened: returning the frame bound to the
    * LIVE session meant a later session-conf change silently stripped
    * the scoping, so the clone is now taken unconditionally — its conf
    * is a snapshot by construction. Bounded LRU on the parent session
    * (NOT a weak key: a clone retains its parent through
    * parentSessionState's closures, so a weak key would be pinned by
    * its own value and never collected — the WeakHashMap
    * value-refers-to-key trap); an evicted parent's next scoped call
    * just re-clones. */
  private val cloneCache = new java.util.LinkedHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[
        (Map[String, String], Map[String, String]), classic.SparkSession]](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession,
        scala.collection.concurrent.TrieMap[
          (Map[String, String], Map[String, String]), classic.SparkSession]]): Boolean =
      size() > 8
  }

  def withSessionConfs(df: Dataset[Row], confs: Map[String, String]): Dataset[Row] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val perSession = cloneCache.synchronized {
      var m = cloneCache.get(session)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        cloneCache.put(session, m)
      }
      m
    }
    // The cache key carries the parent's CURRENT set-conf map: a test
    // (or caller) that flips e.g. AQE between two scoped calls must get
    // a clone reflecting the flip, not the first call's snapshot.
    val key = (confs, session.sessionState.conf.getAllConfs)
    // Bound against pathological conf-flipping loops; steady-state
    // callers use one or two entries.
    if (perSession.size > 64) perSession.clear()
    val cloned = perSession.getOrElseUpdate(key, {
      val c = session.cloneSession()
      confs.foreach { case (k, v) => c.sessionState.conf.setConfString(k, v) }
      c
    })
    classic.Dataset.ofRows(cloned, df.queryExecution.analyzed)
  }

  /** Detach a frame from a [[withSessionConfs]] clone: rebind its plan
    * to `session` verbatim, so later actions plan under that session's
    * LIVE conf. The escape hatch for composing further (possibly
    * memory-heavy, unbounded-state) aggregation on top of a
    * conf-scoped operator result, or for picking up session-conf
    * changes made after the operator call — at the price of losing the
    * scoped conf for the embedded plan (e.g. a bounded top-k inside it
    * falls back to the stock ObjectHashAggregate threshold: slower,
    * never wrong). */
  def rebind(df: Dataset[Row], session: SparkSession): Dataset[Row] =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
