"""Python kernels: exact-semantics, batch-vectorized ports of the reference's
text processing. These run inside Arrow-batched UDFs on executors and
double as the pinned parity oracle in tests.
"""
