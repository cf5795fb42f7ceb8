package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{DetExp, DetLn, HyperplaneBits, StringSim, VecBinary}

/** SQL surface for the graft similarity kernels.
  *
  * Cluster deploy: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes `graft_jaro('a','b')` etc. available in plain SQL on every
  * session, and installs [[graft.plans.RangeJoinRule]], which rewrites
  * integral range joins to bin equi-joins. For an already-running
  * session, `GraftFunctions.register` installs the same functions at
  * runtime (the rule is per-session via
  * `spark.experimental.extraOptimizations`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, kernel) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[StringSim].getName, name),
        (children: Seq[Expression]) => StringSim(children(0), children(1), kernel)))
    }
    GraftFunctions.vecAll.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[VecBinary].getName, name),
        builder))
    }
    // range-join rewrite, bin width estimated per join at planning time
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
  }
}

object GraftFunctions {
  /** SQL name → StringSim kernel. */
  val all: Seq[(String, String)] = Seq(
    "graft_jaro" -> "jaro",
    "graft_jaro_winkler" -> "jaroWinkler",
    "graft_damerau_levenshtein" -> "damerauLevenshtein",
    "graft_hamming" -> "hamming",
    "graft_char_jaccard" -> "charJaccard",
    "graft_lcs_str" -> "lcsStr",
    "graft_needleman_wunsch" -> "needlemanWunsch",
    "graft_smith_waterman" -> "smithWaterman",
    "graft_ratcliff_obershelp" -> "ratcliffObershelp",
    "graft_lcs_seq" -> "lcsSeq")

  /** Vector-kernel SQL functions. graft_hyperplane_bits takes literal
    * int plane/dim args (folded at plan time — the sign matrix is a
    * plan constant, not per-row state).
    */
  val vecAll: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_vec_dot" -> ((c: Seq[Expression]) => VecBinary(c(0), c(1), "dot")),
    "graft_vec_l2sq" -> ((c: Seq[Expression]) => VecBinary(c(0), c(1), "l2sq")),
    "graft_vec_l1" -> ((c: Seq[Expression]) => VecBinary(c(0), c(1), "l1")),
    "graft_hyperplane_bits" -> ((c: Seq[Expression]) => HyperplaneBits(c(0),
      c(1).eval().asInstanceOf[Number].intValue(),
      c(2).eval().asInstanceOf[Number].intValue())),
    // bit-deterministic ln/exp (DetMath): same 64 bits on every engine/JVM
    "graft_det_ln" -> ((c: Seq[Expression]) => DetLn(
      org.apache.spark.sql.catalyst.expressions.Cast(c(0),
        org.apache.spark.sql.types.DoubleType))),
    "graft_det_exp" -> ((c: Seq[Expression]) => DetExp(
      org.apache.spark.sql.catalyst.expressions.Cast(c(0),
        org.apache.spark.sql.types.DoubleType))))

  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, kernel) =>
      Bridge.registerFunction(spark, name,
        children => StringSim(children(0), children(1), kernel))
    }
    vecAll.foreach { case (name, builder) =>
      Bridge.registerFunction(spark, name, builder)
    }
  }
}
