"""Pure (Spark-free) kernels called by the Arrow-batched operator stages."""
