package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Plans.normalise]] alone, no session: the tokens that differ between
  * two runs of the same plan come out identical, and everything else is
  * left as it was. */
class PlansSpec extends AnyFunSuite {

  private val tmp = "/var/tmp/graft-plans"

  private def plan(a: Int, b: Int, exch: Int, arr: String, lambda: String,
                   file: String) =
    s"""Output [2]: [k#${a}L, sig#$b]
       |Arguments: hashpartitioning(k#${a}L, 4), ENSURE_REQUIREMENTS, [plan_id=$exch]
       |Output: [k#${a}L, minhash_sig(s#$b, [J@$arr, 7) AS sig#${b + 1}]
       |Location: InMemoryFileIndex [file:$tmp/graft-ai-sf0.01-ab12/emb/data/$file-c000.snappy.parquet]
       |Function: graft.ops.Kit$$$$Lambda$lambda""".stripMargin

  test("two runs of one plan normalise to the same text") {
    val first = Plans.normalise(
      plan(23, 40, 44, "74ae2dec", "$1234/0x0000000801b2c040@5e8a2b",
        "2e80778b-part-00000-3910c984-3398-471c-904e-350868123153"), tmp)
    val second = Plans.normalise(
      plan(907, 12, 513, "1b2c3d", "$88/0x00000008004a1000@77",
        "6cc8b024-part-00000-b45d2fee-9b92-4fce-8475-ab9bf8fb80b3"), tmp)
    assert(first == second)
    assert(first ==
      """Output [2]: [k#0L, sig#1]
        |Arguments: hashpartitioning(k#0L, 4), ENSURE_REQUIREMENTS, [plan_id=0]
        |Output: [k#0L, minhash_sig(s#1, [J@obj, 7) AS sig#2]
        |Location: InMemoryFileIndex [file:<tmp>/graft-ai-sf0.01-ab12/emb/data/txn-part-00000-uuid-c000.snappy.parquet]
        |Function: graft.ops.Kit$$Lambda""".stripMargin)
  }

  test("lambda variable names normalise per plan, whatever Spark's counter stood at") {
    // Spark names a higher-order function's variables from one JVM-wide
    // fresh-name counter: the same plan built later reads x_41 for x_18
    def hof(x: Int, y: Int) =
      s"""Output [1]: [transform(v#3, lambdafunction((lambda x_$x#7 + 1), lambda x_$x#7, false)) AS w#8]
         |Output [1]: [aggregate(w#8, 0, lambdafunction((lambda y_$y#9 + lambda x_$x#10), lambda y_$y#9, lambda x_$x#10, false), lambdafunction(lambda y_$y#9, lambda y_$y#9, false)) AS s#11]""".stripMargin
    val first = Plans.normalise(hof(18, 19), tmp)
    assert(first == Plans.normalise(hof(41, 42), tmp))
    assert(first ==
      """Output [1]: [transform(v#0, lambdafunction((lambda x_0#1 + 1), lambda x_0#1, false)) AS w#2]
        |Output [1]: [aggregate(w#2, 0, lambdafunction((lambda y_1#3 + lambda x_0#4), lambda y_1#3, lambda x_0#4, false), lambdafunction(lambda y_1#3, lambda y_1#3, false)) AS s#5]""".stripMargin)
    // named variables (from SQL text) carry no counter and stay as written
    val named = "lambdafunction((lambda x#0 + 1), lambda x#0, false)"
    assert(Plans.normalise(named, tmp) == named)
  }

  test("text without run-dependent tokens passes through unchanged") {
    val s = "== Physical Plan ==\nAdaptiveSparkPlan (14)\n+- Scan parquet  (1)"
    assert(Plans.normalise(s, tmp) == s)
  }
}
