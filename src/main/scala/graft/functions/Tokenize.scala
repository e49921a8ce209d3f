package graft.functions

import org.apache.spark.sql.Column

/** THE whitespace-token rule, defined once.
  *
  * Every composed operator (text stats, quality, shingling, token
  * frequency) must agree with the fused kernels
  * (MinHashKernel.shingleSignature / simhash64 / hashedTfVector), which
  * hard-code the same single-space split for bit-parity — the specs pin
  * fused ≡ composed. Changing the delimiter class here requires changing
  * the kernels in lockstep, which is why the rule lives in one place.
  */
object Tokenize {
  /** The non-empty single-space-delimited tokens of `c`, emitted by
    * the TokenArray kernel in one codegen'd byte pass. */
  def tokens(c: Column): Column = HashKernels.token_array(c)
}
