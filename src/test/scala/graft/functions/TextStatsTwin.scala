package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twin of [[TextStats.wordlistHits]] (a `filter` HOF per
  * token); TextStatsSpec pins the kernel to it. */
object TextStatsTwin {
  def wordlistHitsDeclarative(text: Column, words: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isin(words: _*)))
}
