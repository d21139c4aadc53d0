package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in-HOF formulation [[ShingleSet]] replaced — one
  * interpreted lambda per position. The specs hold the kernel
  * observationally equal to it. */
object HofShingles {
  def apply(textCol: Column, n: Int): Column = {
    val toks = split(textCol, " ")
    array_sort(array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }
}
