"""ES index-alias registry over segment stores — the zero-downtime
rotation surface.

Reference contract (/root/reference/elastic/elastic.go:33-97): every
reindex creates a fresh timestamped index `<base>-<ts>`, `PutAlias`
points the serving alias at it (UpdateIndex), and `DeleteIndices` drops
every other `<base>-*` index once the new one serves. Queries always go
through the alias name, so readers see the old index or the new one,
never a half state.

This module is the store-level counterpart. `aliases.json` under a root
directory maps alias -> [store dirs]; every mutation is a read-modify-
write under an exclusive flock with a temp+rename publish — the same
discipline as the segment MANIFEST — so one `update_aliases` batch
applies atomically (ES `_aliases` actions semantics) and concurrent
rotators cannot lose each other's update.

Scale note: the registry is pure driver-side metadata (a JSON pointer
file, like the MANIFEST). No data moves on rotation — the alias swap is
O(1) regardless of store size, exactly why the reference rotates via
aliases instead of reindexing in place.
"""

from __future__ import annotations

import json
import os
import shutil

from .segments import _atomic_write_json


class AliasRegistry:
    """alias -> [store dirs], flock-guarded, atomically published."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.path = os.path.join(root, "aliases.json")

    # -- reads ---------------------------------------------------------
    def aliases(self) -> dict[str, list[str]]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def get_alias(self, alias: str) -> list[str]:
        """ES IndicesGetAlias: the member stores of one alias (the
        reference lists these to decide what DeleteIndices drops)."""
        got = self.aliases().get(alias)
        if got is None:
            raise KeyError(f"alias {alias!r} does not exist")
        return got

    def resolve_one(self, alias: str) -> str:
        members = self.get_alias(alias)
        if len(members) != 1:
            raise ValueError(
                f"alias {alias!r} has {len(members)} members; single-store "
                f"read path needs exactly one (use search() to fan out)"
            )
        return members[0]

    # -- atomic mutations ------------------------------------------------
    def update_aliases(self, actions: list[dict]) -> dict[str, list[str]]:
        """ES `_aliases` API: a batch of {"add"|"remove": {"alias", "index"}}
        actions applied as ONE atomic update — the swap primitive the
        reference's rotation relies on (add new + remove old in a single
        publish; a reader never observes the in-between). Removing a
        non-member errors the whole batch, like ES 404s it."""
        import fcntl

        lock_path = os.path.join(self.root, ".aliases.lock")
        with open(lock_path, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                state = self.aliases()
                for a in actions:
                    if not isinstance(a, dict) or len(a) != 1:
                        raise ValueError(f"action must be a single-key object: {a!r}")
                    op, spec = next(iter(a.items()))
                    alias, index = spec.get("alias"), spec.get("index")
                    if op not in ("add", "remove") or not alias or not index:
                        raise ValueError(f"unsupported alias action {a!r}")
                    index = os.path.abspath(index)
                    members = state.get(alias, [])
                    if op == "add":
                        if index not in members:
                            members = members + [index]
                    else:
                        if index not in members:
                            raise KeyError(
                                f"alias {alias!r} does not point at {index!r}"
                            )
                        members = [m for m in members if m != index]
                    if members:
                        state[alias] = sorted(members)
                    else:
                        state.pop(alias, None)
                _atomic_write_json(self.path, state)
                return state
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def put_alias(self, alias: str, store_dir: str) -> None:
        """The reference's UpdateIndex tail (elastic.go:54): point the
        serving alias at the fresh store, REPLACING all members in one
        atomic publish (add-new + remove-old fused, so readers never see
        zero or two serving stores mid-rotation)."""
        actions: list[dict] = [{"add": {"alias": alias, "index": store_dir}}]
        new = os.path.abspath(store_dir)
        try:
            actions += [
                {"remove": {"alias": alias, "index": m}}
                for m in self.get_alias(alias)
                if m != new
            ]
        except KeyError:
            pass
        self.update_aliases(actions)

    # -- the DeleteIndices analog (elastic.go:64-97) ---------------------
    def gc_stores(self, base: str) -> list[str]:
        """Delete every store dir under root whose name contains `base`
        (the reference matches `strings.Contains(key, ElasticIndex)`) and
        that no alias points at. Returns the removed dirs. Only children
        of the registry root are ever considered — a registry can't be
        tricked into rm-rf'ing elsewhere."""
        aliased = {m for ms in self.aliases().values() for m in ms}
        removed = []
        for d in sorted(os.listdir(self.root)):
            full = os.path.abspath(os.path.join(self.root, d))
            if (
                base in d
                and os.path.isdir(full)
                and full not in aliased
                and os.path.exists(os.path.join(full, "MANIFEST"))
            ):
                shutil.rmtree(full)
                removed.append(full)
        return removed

    # -- query through the alias -----------------------------------------
    def reader(self, spark, alias: str):
        """Open the single-member alias for the full verb surface."""
        from ..operators.wand import IndexReader

        return IndexReader(spark, self.resolve_one(alias))

    def search(self, spark, alias: str, q: str, k: int = 10):
        """Top-k through a (possibly multi-member) alias. One member =
        the normal pruned WAND path. N members = per-store top-k merged
        by (score desc, doc_id asc) — each store scores with its OWN
        stats, which is exactly ES's default query_then_fetch semantics
        for a multi-index alias (per-shard stats, merged by score). For
        globally-consistent stats across shards, federate the builds
        into one store instead (segments.attach_index)."""
        from pyspark.sql import functions as F

        members = self.get_alias(alias)
        from ..operators.wand import IndexReader

        parts = [IndexReader(spark, m).topk(q, k) for m in members]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if len(parts) > 1:
            out = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return out
