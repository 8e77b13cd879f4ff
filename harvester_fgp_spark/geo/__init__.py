"""Pure-numpy geospatial kernels (Spark-free; wrapped by operators.geo).

S2-*style* (NOT S2-compatible) 64-bit quadtree cell ids, web-mercator tile
math, vectorized ray-casting point-in-polygon, and a packed STR R-tree.
Designed so the hot loops are whole-array numpy bit-twiddling. The Spark
layer calls them only inside Arrow-batched stages (the pipeline's fused
``mapInArrow`` PIP, polygon rasterization); every other geo stage has a
native expression twin that these kernels are the test oracles for
(SURVEY.md §2.4, §7.4).
"""
