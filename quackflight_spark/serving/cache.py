"""Query-result cache keyed by (namespace, client-supplied query_id).

Reference: LRUCache(maxsize=10) at main.py:65; probe at :276-278 (a
request with a query_id but no query serves the cached bytes); store at
:287-288. The reference keys on the bare query_id, so any caller can read
any user's cached result; the HTTP app keys on the namespace too. This is
a serving-layer LRU of *serialized* results — not df.cache() (which is a
storage-level concern inside the engine).
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Hashable
from threading import Lock


class QueryCache:
    def __init__(self, maxsize: int = 10):
        self.maxsize = maxsize
        self._d: OrderedDict[Hashable, tuple[bytes, str]] = OrderedDict()
        self._lock = Lock()

    def get(self, key: Hashable) -> tuple[bytes, str] | None:
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
            return None

    def put(self, key: Hashable, payload: bytes, content_type: str) -> None:
        with self._lock:
            self._d[key] = (payload, content_type)
            self._d.move_to_end(key)
            while len(self._d) > self.maxsize:
                self._d.popitem(last=False)

    def __len__(self) -> int:
        return len(self._d)
