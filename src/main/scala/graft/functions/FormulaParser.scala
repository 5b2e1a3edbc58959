package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Chemical-formula parser — the A4 composition-parse operator
  * (SURVEY.md §2.A; reference main.py:32-33 `Composition("SiO2")`).
  *
  * Recursive-descent over `Element[count] | (group)[count]` with nested
  * parentheses and fractional multipliers: "Ca2SnO4" → {Ca→2, Sn→1, O→4},
  * "Ba(AlO2)2" → {Ba→1, Al→2, O→4}.
  */
object FormulaParser {

  def parse(formula: String): Map[String, Double] = {
    var i = 0
    val n = formula.length

    def number(): Double = {
      val start = i
      while (i < n && (formula(i).isDigit || formula(i) == '.')) i += 1
      if (i == start) 1.0 else formula.substring(start, i).toDouble
    }

    def group(): Map[String, Double] = {
      var acc = Map.empty[String, Double]
      def add(m: Map[String, Double], mult: Double): Unit =
        m.foreach { case (k, v) => acc = acc.updated(k, acc.getOrElse(k, 0.0) + v * mult) }
      while (i < n && formula(i) != ')') {
        if (formula(i) == '(') {
          i += 1
          val inner = group()
          require(i < n && formula(i) == ')', s"unbalanced parens in $formula")
          i += 1
          add(inner, number())
        } else {
          require(formula(i).isUpper, s"bad formula $formula at ${formula(i)}")
          val start = i
          i += 1
          while (i < n && formula(i).isLower) i += 1
          val sym = formula.substring(start, i)
          add(Map(sym -> 1.0), number())
        }
      }
      acc
    }

    val out = group()
    require(i == n, s"unbalanced parens in $formula")
    out
  }

  /** Atomic fractions (counts normalized to 1). */
  def fractions(formula: String): Map[String, Double] = {
    val counts = parse(formula)
    val total = counts.values.sum
    counts.map { case (k, v) => k -> v / total }
  }

  val parseFormula = udf((f: String) => if (f == null) null else parse(f))

  def apply(formula: Column): Column = parseFormula(formula)
}
