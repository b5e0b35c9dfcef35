package graft

import graft.ext.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference model of the MinHash signature: one row per (doc, base hash),
  * one `min((a_i·bh + b_i) mod P2)` aggregate column per seed — the
  * exploded form the engine computed before the signature kernel folded
  * each document's array in one row. Specs compare the kernel against it. */
object MinHashReference {

  /** (id, bh) rows -> (id, sig) with sig(i) = min over the id's rows of h_i(bh). */
  def fromBaseHashRows(rows: DataFrame, numHashes: Int, idCol: String = "doc_id"): DataFrame = {
    val mins = Dedup.seedFamily(numHashes).map { case (i, a, b) =>
      min((lit(a) * col("bh") + lit(b)) % Dedup.P2).as(s"mh$i")
    }
    rows.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Signatures of a document table through exploded shingle rows. */
  def signatures(docs: DataFrame, k: Int, numHashes: Int, baseHash: Column => Column,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    fromBaseHashRows(
      Dedup.shingleRows(docs, k, textCol, idCol)
        .select(col(idCol), pmod(baseHash(col("shingle")), lit(Dedup.P)).as("bh")),
      numHashes, idCol)
}
