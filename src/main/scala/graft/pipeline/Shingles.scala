package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text-decomposition expressions for the LLM-pipeline operators.
  * All pure Catalyst built-ins (codegen'd, no UDFs) so they stay inside
  * WholeStageCodegen and their DuckDB-SQL oracle twins can reproduce them
  * token for token. Shingling itself runs in [[Dedup.shingleKernel]].
  */
object Shingles {

  /** Whitespace tokens of `text` (the documents table is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")
}
