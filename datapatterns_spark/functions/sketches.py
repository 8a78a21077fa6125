"""The one cardinality sketch both profile paths use.

The approx one-shot profile (``operators/profile.py``) and the
mergeable profile states (``operators/incremental.py``) both estimate
cardinality with Spark's built-in DataSketches HLL
(``hll_sketch_agg`` / ``hll_sketch_estimate`` / ``hll_union_agg``) at
one precision, so their estimates agree within the sketch's error.
The sketch state is one binary column of the aggregation buffer;
Spark's HLL++ aggregate keeps every register as its own ``long``
column (820 of them at rsd 0.015), which bloats the projections Spark
generates for the aggregate that carries it.
"""

# DataSketches HLL precision: 2^14 registers ~= 0.8% relative standard
# error — comfortably inside the 2% tolerance the sketch tests pin.
LG_CONFIG_K = 14
