package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Dedup

class ExtensionsSpec extends SparkTestBase {
  private lazy val docs = spark.read.parquet(sf("documents"))

  test("graft_* SQL functions return exactly what the Column API returns") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql("""
      SELECT doc_id,
        graft_token_count(text) AS n_tokens,
        graft_lang_id(text) AS lang_pred,
        graft_fingerprint(text) AS fp,
        graft_simhash60(split(text, '\\s+')) AS sh,
        graft_minhash_sig(graft_shingles(split(text, '\\s+'), 3), 4) AS sig
      FROM ext_docs ORDER BY doc_id""").collect()
    val viaApi = docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        NativeExpressions.simhash60(split(col("text"), "\\s+")).as("sh"),
        Dedup.minhashSignature(Dedup.shingles(split(col("text"), "\\s+"), 3), 4).as("sig"))
      .orderBy("doc_id").collect()
    assert(viaSql.length === viaApi.length)
    viaSql.zip(viaApi).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0))
      assert(a.getInt(1) === b.getInt(1))
      assert(a.getString(2) === b.getString(2))
      assert(a.getString(3) === b.getString(3))
      assert(a.getLong(4) === b.getLong(4))
      assert(a.getSeq[Long](5) === b.getSeq[Long](5))
    }
  }

  test("scalar graft functions stay codegen-friendly predicates (pushdown-able)") {
    // a filter on graft_hash60 must evaluate without a UDF boundary: the
    // physical plan contains no ScalaUDF / BatchEvalPython nodes
    docs.createOrReplaceTempView("ext_docs")
    val q = spark.sql(
      "SELECT doc_id FROM ext_docs WHERE graft_hash60(doc_id) % 100 < 10")
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("ScalaUDF"))
    assert(q.count() > 0)
  }

  test("non-literal k and wrong arity fail analysis with a clear error") {
    docs.createOrReplaceTempView("ext_docs")
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(split(text, ' '), doc_id) FROM ext_docs").collect()
    }
    assert(e1.getMessage.contains("literal"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_token_count(text, 3) FROM ext_docs").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("argument"))
  }
}
