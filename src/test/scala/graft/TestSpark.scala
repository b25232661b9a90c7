package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built the
  * same way as Bench's and Verify's.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Run `body` twice: once with every expression interpreted (the small
    * test relations fold into local relations through `eval`), and once with
    * them kept as scans under whole-stage codegen with no fallback, so each
    * kernel's generated code is what runs.
    */
  def onBothPaths(body: => Unit): Unit =
    Seq(
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      Seq("spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    ).foreach(conf => withConf(conf: _*)(body))

  /** `body` with the session's `conf` set, restored after. */
  def withConf[A](conf: (String, String)*)(body: => A): A = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
