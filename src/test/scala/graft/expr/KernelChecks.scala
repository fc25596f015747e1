package graft.expr

import graft.SparkSpec

/** Checks the native vector kernels' specs share. */
trait KernelChecks { self: SparkSpec =>

  /** `body` must throw with `marker` somewhere in its cause chain (a task
    * failure arrives wrapped in a SparkException). */
  def assertThrowsWith(marker: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains(marker)), s"no '$marker' in $messages")
  }

  /** `body` evaluated with whole-stage and expression codegen off. */
  def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
