"""Pure-Python kernels. No Spark imports here — these run inside Arrow
batches (mapInArrow) on executors and must stay import-cheap."""
