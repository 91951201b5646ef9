"""Numpy kernels shared by the pytest oracles and the Spark UDFs.

Each kernel operates on ONE document's token array (the DIMACS integer
stream: signed int32 literals, 0 terminates a clause — exactly what the
reference parser yields, see /root/reference/src/util/StreamBuffer.h:321-338).
The batch kernels (``hashes.*_batch``, ``cnf_batch``) take a whole Arrow
batch as one flat token buffer plus offsets; the per-doc kernels are
their oracle.

The same function object runs inside pytest and inside the Arrow-batched
UDFs (gbdc_spark.operators.extract), which kills oracle drift.
"""
