package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Packing

/** Sequence packing: the greedy first-fit fold and its distributed
  * shard layout.
  */
class PackingSpec extends AnyFunSuite with SharedSpark {

  test("greedy first-fit fold: splits, oversize bins, first-doc law") {
    val docs = Iterator((1L, 300L), (2L, 300L), (3L, 100L), (4L, 600L), (5L, 10L))
    val out = Packing.packShard(0L, docs, budgetTokens = 512).toSeq
    // 300 fits; +300 > 512 -> new bin; +100 fits; 600 oversize -> own bin;
    // 10 starts the next bin after the oversize one
    assert(out.map(p => (p.doc_id, p.bin)) ==
      Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
    // an oversized FIRST document never splits an empty bin
    val single = Packing.packShard(0L, Iterator((9L, 9999L)), 512).toSeq
    assert(single.map(p => (p.doc_id, p.bin)) == Seq((9L, 0L)))
  }

  test("packPartition streams: never materializes a shard") {
    // a partition holding ONE giant shard, consumed through a counter:
    // taking k outputs must pull at most k+1 inputs (one lookahead for
    // the buffered run-boundary check) — proof the fold is O(1) memory.
    var pulled = 0
    val rows = Iterator.tabulate(1000000) { i =>
      pulled += 1; (0L, i.toLong, 200L)
    }
    val out = Packing.packPartition(rows, budgetTokens = 512)
    val firstThree = out.take(3).toSeq
    assert(firstThree.map(p => (p.doc_id, p.bin)) ==
      Seq((0L, 0L), (1L, 0L), (2L, 1L)))
    assert(pulled <= 4, s"streaming fold pulled $pulled rows for 3 outputs")
    // shard boundaries reset the fold state
    val two = Packing.packPartition(
      Iterator((0L, 1L, 400L), (0L, 2L, 400L), (7L, 3L, 400L)), 512).toSeq
    assert(two.map(p => (p.shard, p.bin)) == Seq((0L, 0L), (0L, 1L), (7L, 0L)))
  }

  test("distributed packing shards deterministically and folds in doc order") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, 200L)).toDF("doc_id", "n_tokens")
    val out = Packing.pack(docs, budgetTokens = 512, numShards = 4)
      .collect().sortBy(_.doc_id)
    assert(out.forall(p => p.shard == p.doc_id % 4))
    // within a shard, 200-token docs pack 2 per 512-bin in doc order
    val shard0 = out.filter(_.shard == 0).map(_.bin).toSeq
    assert(shard0 == Seq(0L, 0L, 1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
    // re-running produces identical bins
    val again = Packing.pack(docs, budgetTokens = 512, numShards = 4)
      .collect().sortBy(_.doc_id)
    assert(again.toSeq == out.toSeq)
  }

  test("chunk: stride windows cover every token, only the tail is short") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, (1 to 50).map(i => s"t$i").mkString(" ")), // 50 tokens
      (2L, "a b c")).toDF("doc_id", "text")           // shorter than maxLen
    val got = Packing.chunk(docs, "doc_id", "text", maxLen = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      (1L, 0, 1, 32),  // tokens 1-32
      (1L, 1, 25, 26), // tokens 25-50 (overlap 8)
      (1L, 2, 49, 2),  // final short tail
      (2L, 0, 1, 3)))
    // disjoint mode: stride == maxLen partitions the stream exactly
    val disjoint = Packing.chunk(docs, "doc_id", "text", maxLen = 24, stride = 24)
      .filter(col("doc_id") === 1L).orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(disjoint.toSeq == Seq((0, 1, 24), (1, 25, 24), (2, 49, 2)))
    intercept[IllegalArgumentException] {
      Packing.chunk(docs, "doc_id", "text", maxLen = 8, stride = 16)
    }
  }
}
