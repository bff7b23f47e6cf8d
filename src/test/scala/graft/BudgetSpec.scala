package graft

import org.scalatest.funsuite.AnyFunSuite

class BudgetSpec extends AnyFunSuite {

  test("SPARK_GRAFT_QUERY_BUDGET_SEC: unset is 60 s; a value under " +
    "1 s or a non-integer fails loudly, naming the variable") {
    assert(Budget.budgetSec(None) == 60)
    assert(Budget.budgetSec(Some("90")) == 90)
    Seq("0", "-5", "abc").foreach { raw =>
      val e = intercept[IllegalArgumentException](Budget.budgetSec(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_QUERY_BUDGET_SEC"), raw)
    }
  }
}
