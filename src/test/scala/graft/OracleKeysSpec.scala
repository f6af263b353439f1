package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every verified query carries DuckDB oracle SQL under the same name,
  * so a misspelled or orphaned oracle key fails here instead of surfacing
  * as a query with no oracle at compare time. */
class OracleKeysSpec extends AnyFunSuite {

  test("oracle SQL keys match the query keys; only encrypt_field is rows-only") {
    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert(oracle.subsetOf(queries),
      s"oracle keys without a query: ${oracle -- queries}")
    // raw AES ciphertext has no DuckDB equivalent; encrypt_roundtrip is
    // its hash-verified companion
    assert(queries -- oracle == Set("encrypt_field"))
    // building a Map keeps only the last record of a repeated name
    val names = (SparkEntry.records ++ graft.queries.CurationQueries.bench).map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      s"query names declared twice: ${names.diff(names.distinct)}")
  }
}
