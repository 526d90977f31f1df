package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Sessions with a chosen set of extensions, for specs that compare a
  * session with an extension against one without it: the builder and
  * the public constructors always apply the `spark.sql.extensions` of
  * the running context, so this calls the full constructor.
  */
object TestSessions {
  /** A new session sharing `parent`'s context and shared state, with
    * exactly `exts` applied. */
  def withExtensions(parent: SparkSession, exts: (SparkSessionExtensions => Unit)*): SparkSession = {
    val e = new SparkSessionExtensions
    exts.foreach(_(e))
    val p = parent.asInstanceOf[ClassicSession]
    val full = classOf[ClassicSession].getConstructors.find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException("no full SparkSession constructor"))
    full.newInstance(p.sparkContext, Some(p.sharedState), None, e, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }
}
