package graft

import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must be reachable from plain SQL once the
  * extensions are installed.
  */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  test("dot_product is SQL-callable") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("shingle_hashes + minhash_signature are SQL-callable and consistent") {
    val rows = spark.sql(
      """SELECT minhash_signature(shingle_hashes(split('a b c d', ' '), 3), 8) AS sig,
                shingle_hashes(split('a b c d', ' '), 3) AS sh""")
      .collect()(0)
    assert(rows.getSeq[Long](0).length == 8)
    assert(rows.getSeq[Long](1).length == 2) // "a b c", "b c d"
  }

  test("simhash_chunks over token_hashes is SQL-callable and deterministic") {
    val q = "SELECT simhash_chunks(token_hashes(split('x y z', ' '))) AS sig"
    val a = spark.sql(q).collect()(0).getSeq[Long](0)
    val b = spark.sql(q).collect()(0).getSeq[Long](0)
    assert(a.length == 4 && a == b)
    // chunks are 16-bit values
    assert(a.forall(v => v >= 0 && v < 65536))
  }

  test("winnow_keys is SQL-callable and matches the Column API") {
    val q = "SELECT winnow_keys(split('a b c d e f g h', ' '), 3, 4) AS ks"
    val viaSql = spark.sql(q).collect()(0).getSeq[String](0)
    import spark.implicits._
    val viaCol = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
      .select(org.apache.spark.sql.graft.Signatures
        .winnow_keys(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " "), 3, 4))
      .collect()(0).getSeq[String](0)
    assert(viaSql.nonEmpty && viaSql == viaCol)
    assert(viaSql.forall(_.length == 17))
  }
}
