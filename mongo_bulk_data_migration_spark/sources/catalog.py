"""Warehouse catalog: named tables in one directory.

The reference's ``db`` handle + ``renameCollection`` atomic swap
(``/root/reference/src/MongoBulkDataMigration.ts:121-135,451-459``) map to a
directory-of-tables with POSIX-atomic renames.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from typing import Iterator

from pyspark.sql import types as T

from .laketable import LakeTable


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    @contextlib.contextmanager
    def scratch(self, kind: str) -> Iterator[str]:
        """A unique scratch path under the warehouse's ``_tmp``, removed on exit."""
        path = os.path.join(self.warehouse, "_tmp", f"{kind}-{uuid.uuid4().hex}")
        try:
            yield path
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def exists(self, name: str) -> bool:
        return LakeTable.exists(self.path(name))

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        key_col: str = "doc_id",
        num_buckets: int = 16,
        properties: dict | None = None,
    ) -> LakeTable:
        return LakeTable.create(self.path(name), schema, key_col, num_buckets, properties)

    def load_table(self, name: str) -> LakeTable:
        if not self.exists(name):
            raise FileNotFoundError(f"no such table: {name}")
        return LakeTable(self.path(name))

    def rename_table(self, src: str, dst: str) -> bool:
        """Atomic swap; returns False if src missing or dst exists — the
        reference returns ``{ok: 0}`` on a second DELETE_COLLECTION run
        (``/root/reference/__tests__/MongoBulkDataMigration.test.ts:139-145``)."""
        if not self.exists(src) or os.path.exists(self.path(dst)):
            return False
        os.rename(self.path(src), self.path(dst))
        return True

    def drop_table(self, name: str) -> bool:
        """DROP TABLE IF EXISTS semantics (swallow absence, like the
        reference's clean(): ``/root/reference/src/MongoBulkDataMigration.ts:461-482``)."""
        if not os.path.exists(self.path(name)):
            return False
        shutil.rmtree(self.path(name))
        return True

    def list_tables(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.warehouse) if LakeTable.exists(self.path(n))
        )
