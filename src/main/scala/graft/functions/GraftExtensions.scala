package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension injection point for the engine's native functions —
  * the supported way to ship them into any session, including pure-SQL
  * ones:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * after which `SELECT elf_hash(key), vec_dot(a, b) FROM t` parses and
  * codegens like a built-in (no UDF boxing). Complements
  * [[GraftFunctions.register]], which does the same on an already-built
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom operators: as-of join logical node → sort-merge exec
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // SQL views for the snapshot catalog: stock Spark refuses view DDL
    // on non-session V2 catalogs and never reads V2 views, so the
    // parser hook routes CREATE/DROP VIEW to SnapshotCatalog's
    // ViewCatalog API and the resolution rule expands stored views on
    // the read side (graft.plans.SnapViews)
    ext.injectParser((session, delegate) =>
      new graft.plans.SnapViewParser(session, delegate))
    ext.injectResolutionRule(session =>
      graft.plans.ResolveSnapViews(session))
    // SQL reads of merge-on-read snapshots plan the library's
    // delete-applying read (graft.sources.ResolveSnapshotDeletes)
    ext.injectResolutionRule(session =>
      graft.sources.ResolveSnapshotDeletes(session))
    ext.injectFunction((
      FunctionIdentifier("elf_hash"),
      new ExpressionInfo(classOf[ElfHashExpr].getName, "elf_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ElfHashExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("explode_shingles"),
      new ExpressionInfo(classOf[ShingleExplode].getName, "explode_shingles"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ShingleExplode(exprs.head,
          exprs(1).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VectorSqDist].getName, "vec_sqdist"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VectorSqDist(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("hll_regs"),
      new ExpressionInfo(classOf[HllRegsAgg].getName, "hll_regs"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllRegsAgg(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinctAgg].getName, "bitmap_distinct"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        BitmapDistinctAgg(exprs.head,
          exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((
      FunctionIdentifier("unicode_norm"),
      new ExpressionInfo(classOf[UnicodeNormExpr].getName, "unicode_norm"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        UnicodeNormExpr(exprs.head,
          exprs(1).eval(null).toString)))
    ext.injectFunction((
      FunctionIdentifier("no_pushdown"),
      new ExpressionInfo(classOf[PushdownBarrier].getName, "no_pushdown"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PushdownBarrier(exprs.head)))
  }
}
