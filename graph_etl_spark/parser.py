"""Parser — decorator + context-manager registration surface
(reference graph_etl/utils.py:232-303).

Two usage forms, same as the reference:

    @getl.Parser(source="imdb", version="1.0")
    def movies(ctx):
        ctx.save_nodes(...)

    with getl.Parser(source="imdb") as ctx:
        ctx.save_nodes(...)

The decorated form registers the function for ``parse()``; the
``with`` form runs inline and applies the mapping engine on exit
(reference utils.py:278-283).

The staged writes of one parser's saves overlap and complete at the
parser's end — the return of the decorated function or the exit of the
``with`` block, also when it raises. Write errors surface there, and a
parser with a failed write is not ledgered.
"""

from __future__ import annotations

import inspect
import logging
import os
from contextlib import ExitStack
from typing import Any, Callable

from .catalog import get_store
from .context import Context

logger = logging.getLogger("graph_etl_spark")

PARSER_LEDGER = "log_parser.txt"


class Parser:
    def __init__(self, sources_path: list[str] | None = None, **metadatas: Any):
        self.sources_path = sources_path or []
        self.metadatas = dict(metadatas)
        self._fn_id: str | None = None
        self._writes = ExitStack()  # the open with-form's overlapped_writes scope

    # -- shared skip logic (reference utils.py:255-269) --------------------------

    def _should_skip(self, store, fn_id: str) -> str | None:
        if store.ledger_contains(PARSER_LEDGER, fn_id):
            return "already parsed (ledger)"
        missing = [p for p in self.sources_path if not os.path.exists(p)]
        if missing:
            return f"missing sources: {missing}"
        for flt in store._filters:
            if flt.skip_parse(self.metadatas):
                return "filtered out"
        return None

    # -- decorator form -----------------------------------------------------------

    def __call__(self, fn: Callable[[Context], None]) -> Callable[[], None]:
        params = inspect.signature(fn).parameters
        positional = [
            p
            for p in params.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        if len(positional) != 1 or len(params) != len(positional):
            # reference enforces exactly one arg (utils.py:286-292);
            # *args/**kwargs are rejected too (co_argcount semantics)
            raise TypeError(
                f"parser function {fn.__name__!r} must take exactly 1 argument (ctx)"
            )
        fn_id = f"FUNCTION_{fn.__name__}"

        def wrapper() -> None:
            store = get_store()
            reason = self._should_skip(store, fn_id)
            if reason:
                logger.info("skip %s: %s", fn_id, reason)
                return
            with store.overlapped_writes():
                fn(Context(store, self.metadatas))
            store.flush_configs()
            store.ledger_append(PARSER_LEDGER, fn_id)

        wrapper.__name__ = fn.__name__
        wrapper.__wrapped__ = fn
        wrapper._parser = self
        wrapper._fn_id = fn_id
        store = get_store()
        store._all_parsing_functions[fn_id] = (wrapper, self.metadatas)
        return wrapper

    # -- context-manager form (reference utils.py:271-283) -------------------------

    def __enter__(self) -> Context:
        store = get_store()
        self._fn_id = f"INLINE_{id(self)}"
        reason = self._should_skip(store, self._fn_id)
        if reason:
            logger.info("skip inline parser: %s", reason)
            return Context(None, None)  # dummy: saves are no-ops
        self._writes.enter_context(store.overlapped_writes())
        return Context(store, self.metadatas)

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._writes.__exit__(exc_type, exc, tb)  # pending writes complete here
        if exc_type is None:
            from .pipeline import _map_property

            store = get_store()
            _map_property(store)
            store.flush_configs()
        return False
