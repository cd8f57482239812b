"""The Engine's default catalog: ``ObjectStoreCatalog``'s pointer protocol
over the local warehouse directory, with the warehouse made absolute."""

from __future__ import annotations

import os

from iceberg_rust_custom_spark.catalog.object_store import LocalFSObjectStore, ObjectStoreCatalog


class FileCatalog(ObjectStoreCatalog):
    def __init__(self, warehouse: str):
        warehouse = os.path.abspath(warehouse)
        super().__init__(LocalFSObjectStore(warehouse), warehouse=warehouse)
