"""Pure-Python side of the lake benchmark: operation generation, metric
arithmetic and the counter ledger. Nothing here touches Spark."""
