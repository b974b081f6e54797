from gazetteer_search_spark.index.codec import BLOCK_SIZE  # noqa: F401
from gazetteer_search_spark.index.builder import (  # noqa: F401
    IndexPaths,
    build_index,
    load_index,
)
