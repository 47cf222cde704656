from .worker_boot import (
    in_pyspark_worker,
    install_gc_freeze,
    install_zip_index_cache,
)

# Every engine UDF imports this package when its task's function is
# unpickled, so the first engine task of a worker process installs both.
if in_pyspark_worker():
    install_zip_index_cache()
    install_gc_freeze()
