"""External Iceberg catalog seam (Polaris/REST): reads AND commits.

The reference resolves tables through catalogs: Snowflake's
SYSTEM$GET_ICEBERG_TABLE_INFORMATION (`warehouse/snowflake.py:97-111`) or a
Polaris/REST catalog via PyIceberg (`catalog/iceberg.py:41-52`), then scans
the returned metadata location; DDL is synced back through the catalog
(`warehouse/snowflake.py:73-88`). This module is that seam re-expressed for
our pure-Python Iceberg layer:

- :class:`RestCatalogClient` speaks the Iceberg REST catalog protocol with
  stdlib urllib: the read side (`GET /v1/config`,
  `GET /v1/namespaces/{ns}/tables/{t}`), table registration
  (`POST /v1/namespaces/{ns}/register`), and the OPTIMISTIC COMMIT flow
  (`POST /v1/namespaces/{ns}/tables/{t}` with a CommitTableRequest of
  requirements + updates; HTTP 409 = CommitFailedException -> the caller's
  rebase/retry loop).
- :class:`CatalogIcebergTable` is an :class:`IcebergTable` whose CURRENT
  metadata comes from the catalog instead of the local version-hint chain.
  Reads, scan planning, and manifest file-skipping work unchanged. With a
  committer attached (writable=True), DML commits route through the REST
  commit protocol: the catalog's requirement check replaces the local
  os.link CAS — same optimistic-concurrency contract, arbitration moved
  server-side, exactly the Polaris `updateTable` model.
"""

from __future__ import annotations

import copy
import json
import os
import urllib.error
import urllib.request
from collections.abc import Callable

from universql_spark.iceberg_format import CommitConflict, IcebergTable


def metadata_updates(base: dict, new: dict) -> list[dict]:
    """Standard Iceberg REST TableUpdate actions transforming `base` into
    `new` — derived by diffing the two metadata documents, because our
    IcebergTable mutators rebuild the full document rather than logging
    actions. Covers everything the engine's DML/DDL emits (snapshots, the
    main ref, schemas, properties, snapshot removal); any OTHER divergence
    is unsupported-by-construction and the commit must not silently drop
    it, so derived/bookkeeping fields are left to the server."""
    ups: list[dict] = []
    base_snaps = {s["snapshot-id"] for s in base.get("snapshots", [])}
    new_snaps = {s["snapshot-id"] for s in new.get("snapshots", [])}
    for s in new.get("snapshots", []):
        if s["snapshot-id"] not in base_snaps:
            ups.append({"action": "add-snapshot", "snapshot": s})
    gone = sorted(base_snaps - new_snaps)
    if gone:
        ups.append({"action": "remove-snapshots", "snapshot-ids": gone})
    base_schemas = {s["schema-id"] for s in base.get("schemas", [])}
    for s in new.get("schemas", []):
        if s["schema-id"] not in base_schemas:
            ups.append({"action": "add-schema", "schema": s})
    if new.get("current-schema-id") != base.get("current-schema-id"):
        ups.append(
            {"action": "set-current-schema", "schema-id": new["current-schema-id"]}
        )
    if new.get("current-snapshot-id") != base.get("current-snapshot-id"):
        ups.append(
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new.get("current-snapshot-id"),
            }
        )
    bp, np_ = base.get("properties", {}), new.get("properties", {})
    changed = {k: v for k, v in np_.items() if bp.get(k) != v}
    if changed:
        ups.append({"action": "set-properties", "updates": changed})
    removed = sorted(k for k in bp if k not in np_)
    if removed:
        ups.append({"action": "remove-properties", "removals": removed})
    # refs other than main (branches/tags) — the local branch surface
    for name, ref in new.get("refs", {}).items():
        if name != "main" and base.get("refs", {}).get(name) != ref:
            ups.append(
                {
                    "action": "set-snapshot-ref",
                    "ref-name": name,
                    "type": ref.get("type", "branch"),
                    "snapshot-id": ref.get("snapshot-id"),
                }
            )
    for name in base.get("refs", {}):
        if name != "main" and name not in new.get("refs", {}):
            ups.append({"action": "remove-snapshot-ref", "ref-name": name})
    return ups


class RestCatalogClient:
    """Minimal Iceberg REST catalog client: read path, table REGISTRATION
    (the write-back the reference performs after creating a table locally —
    `warehouse/snowflake.py:73-88`), and the optimistic COMMIT flow."""

    def __init__(self, uri: str, token: str | None = None, timeout: float = 10.0):
        self.uri = uri.rstrip("/")
        self.token = token
        self.timeout = timeout

    def _request(self, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(f"{self.uri}{path}", data=data)
        if body is not None:
            req.add_header("Content-Type", "application/json")
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        with urllib.request.urlopen(req, timeout=self.timeout) as r:
            return json.loads(r.read().decode())

    def _get(self, path: str) -> dict:
        return self._request(path)

    def config(self) -> dict:
        return self._get("/v1/config")

    def load_table(self, namespace: str, table: str) -> dict:
        """LoadTableResponse: {"metadata-location": ..., "metadata": {...}}."""
        return self._get(f"/v1/namespaces/{namespace}/tables/{table}")

    def table_metadata(self, namespace: str, table: str) -> dict:
        return self.load_table(namespace, table)["metadata"]

    def register_table(
        self, namespace: str, table: str, metadata_location: str
    ) -> dict:
        """Iceberg REST `POST /v1/namespaces/{ns}/register`
        (RegisterTableRequest): point the catalog at an existing
        metadata.json. This is write-back registration, NOT a commit — the
        metadata file must already be durable; the catalog only records its
        location, exactly the reference's post-CTAS sync."""
        return self._request(
            f"/v1/namespaces/{namespace}/register",
            {"name": table, "metadata-location": metadata_location},
        )

    def commit_table(
        self, namespace: str, table: str, base_meta: dict, new_meta: dict
    ) -> bool:
        """Iceberg REST optimistic commit: `POST /v1/namespaces/{ns}/tables/{t}`
        with a CommitTableRequest — requirements assert what this writer
        READ (the main ref's snapshot id), updates carry what it changed.
        The server applies updates atomically iff every requirement still
        holds; HTTP 409 is CommitFailedException and returns False so the
        caller re-reads and rebases — the identical contract to the local
        `_cas_write_version` os.link CAS, arbitration moved to the catalog
        (Polaris updateTable; reference catalog/iceberg.py:41-52)."""
        body = {
            "identifier": {"namespace": [namespace], "name": table},
            "requirements": [
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": "main",
                    "snapshot-id": base_meta.get("current-snapshot-id"),
                }
            ],
            "updates": metadata_updates(base_meta, new_meta),
        }
        try:
            self._request(f"/v1/namespaces/{namespace}/tables/{table}", body)
        except urllib.error.HTTPError as e:
            if e.code == 409:
                return False
            raise
        return True


class CatalogIcebergTable(IcebergTable):
    """IcebergTable over externally-served metadata.

    `lookup()` returns the CURRENT Iceberg table metadata (the `metadata`
    body of a REST LoadTableResponse). Every metadata read re-invokes it, so
    a refreshed catalog entry is picked up on the next query — the same
    refresh contract as PyIceberg's `Table.refresh()`.

    Read-only by default. With `committer` set (a callable
    (base_meta, new_meta) -> bool) and a storage `root`, DML works: data
    files and manifests are written into the table's storage location
    (object store in production, a directory here) and the metadata swap
    goes through the committer — the catalog's requirement check is the
    CAS. Without a committer, commits refuse BEFORE any data lands.
    """

    def __init__(
        self,
        lookup: Callable[[], dict],
        root: str = "",
        committer: Callable[[dict, dict], bool] | None = None,
    ):
        super().__init__(root)
        self._lookup = lookup
        self._committer = committer
        #: metadata document by version token — the commit base cache
        self._meta_by_version: dict[int, dict] = {}
        if committer is not None and root:
            os.makedirs(self._meta_dir, exist_ok=True)
            os.makedirs(os.path.join(root, "data"), exist_ok=True)

    @classmethod
    def from_rest(
        cls,
        uri: str,
        namespace: str,
        table: str,
        token: str | None = None,
        writable: bool = False,
    ) -> "CatalogIcebergTable":
        client = RestCatalogClient(uri, token=token)
        lookup = lambda: client.table_metadata(namespace, table)  # noqa: E731
        committer = None
        root = ""
        if writable:
            loc = lookup().get("location", "")
            root = loc[len("file://"):] if loc.startswith("file://") else loc
            if not root:
                raise ValueError(
                    "writable catalog table needs a storage location in its "
                    "metadata ('location'); the catalog served none"
                )
            committer = lambda base, new: client.commit_table(  # noqa: E731
                namespace, table, base, new
            )
        return cls(lookup, root=root, committer=committer)

    @staticmethod
    def _meta_token(meta: dict) -> int:
        """Version/base-cache token for a catalog metadata document.

        last-updated-ms, NOT last-sequence-number (ADVICE r5 #4): Iceberg
        bumps the sequence number only on snapshot-producing commits, so a
        properties-only or schema-only commit would leave a sequence-keyed
        cache serving a stale base and skip the CommitConflict check.
        last-updated-ms changes on every committed metadata document; the
        sequence number is mixed in to disambiguate same-millisecond
        commits."""
        return (int(meta.get("last-updated-ms", 0)) << 12) | (
            int(meta.get("last-sequence-number", 0)) & 0xFFF
        )

    def current_version(self) -> int:  # not hint-file based here
        return self._meta_token(self._lookup())

    def _read_metadata(self) -> tuple[int, dict]:
        meta = self._lookup()
        v = self._meta_token(meta)
        self._meta_by_version[v] = meta
        return v, meta

    def _base_meta(self, v: int) -> dict:
        if v in self._meta_by_version:
            # deep copy: _commit mutates its base in place, and the cache
            # must keep serving the PRISTINE read for retry rebases
            return copy.deepcopy(self._meta_by_version[v])
        meta = self._lookup()
        if self._meta_token(meta) != v:
            raise CommitConflict(
                f"catalog advanced past the version this commit was built on ({v})"
            )
        return copy.deepcopy(meta)

    def _cas_write_version(self, base_v: int, meta: dict) -> bool:
        if self._committer is None:
            raise NotImplementedError(
                "external-catalog table attached read-only: pass writable=True "
                "(the catalog then arbitrates commits via the REST protocol)"
            )
        base = self._meta_by_version.get(base_v)
        if base is None:
            base = self._base_meta(base_v)
        ok = self._committer(base, meta)
        if ok:
            # tokens are last-updated-ms based (no +1 arithmetic): drop all
            # snapshot caches so the next read re-derives from the catalog
            self._version_cache.clear()
            self._meta_by_version.clear()
        return ok

    def _write_files(self, df) -> list[str]:
        if self._committer is None or not self.root:
            # refuse BEFORE any data lands: with the commit path closed,
            # files written first would be orphans in whatever directory
            # `root` resolves to (an empty root means the process CWD)
            raise NotImplementedError(
                "external-catalog table attached read-only: pass writable=True"
            )
        return super()._write_files(df)
