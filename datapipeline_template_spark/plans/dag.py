"""Tiny dependency-driven DAG runner.

The reference relies on two implicit mechanisms: lexicographic file
ordering (`00_config_loader.py:8-11`) and SDP's dependency resolution
from decorator registrations (`01_bronze_ingestion.py:68-74`). We make
the graph explicit: each dataset is a node with declared dependencies.

``run(workers)`` first checks the graph (``topo_order`` refuses a
cycle before anything starts). It then hands each node to a pool of
``workers`` driver threads as soon as all of *its own* deps have
returned, not level by level, so independent chains overlap. Ready
nodes start in ``topo_order`` rank; with ``workers=1`` the nodes run
in exactly that order. Each node runs with the caller's Spark local
properties (job group, description, scheduler pool), captured when it
is submitted.

Failures: once a node raises, no further node starts. Nodes already
in flight finish, then the first failure's exception is re-raised
unchanged.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

__all__ = ["Dataset", "Dag"]


@dataclass
class Dataset:
    name: str
    build: Callable[[], object]
    deps: tuple[str, ...] = ()
    kind: str = "batch"  # batch | stream | view


def _with_caller_context(fn: Callable[[], object]) -> Callable[[], object]:
    """``fn`` carrying the calling thread's Spark local properties and
    tags onto whichever pool thread runs it (pinned-thread mode does
    not inherit them); unchanged when no Spark session is active."""
    session = SparkSession.getActiveSession()
    return fn if session is None else inheritable_thread_target(session)(fn)


@dataclass
class Dag:
    nodes: dict[str, Dataset] = field(default_factory=dict)

    def add(self, dataset: Dataset) -> None:
        if dataset.name in self.nodes:
            raise ValueError(f"duplicate dataset {dataset.name!r}")
        self.nodes[dataset.name] = dataset

    def topo_order(self) -> list[Dataset]:
        order: list[Dataset] = []
        done: set[str] = set()
        pending = list(self.nodes.values())
        while pending:
            ready = [d for d in pending if all(dep in done for dep in d.deps)]
            if not ready:
                cyc = [d.name for d in pending]
                raise ValueError(f"dependency cycle or missing dep among {cyc}")
            for d in ready:
                order.append(d)
                done.add(d.name)
            pending = [d for d in pending if d.name not in done]
        return order

    def run(self, workers: int = 1) -> dict[str, object]:
        """Build every node; ``{name: result}`` in topological order."""
        if workers < 1:
            raise ValueError(f"workers must be >= 1, got {workers}")
        order = self.topo_order()
        rank = {d.name: i for i, d in enumerate(order)}
        results: dict[str, object] = {}
        running: dict[Future, str] = {}
        started: set[str] = set()
        failure: BaseException | None = None
        with ThreadPoolExecutor(max_workers=workers, thread_name_prefix="dag") as pool:
            while True:
                # Never queue more than the pool runs at once, so every
                # submitted node starts now and none starts after a failure.
                for d in order:
                    if failure is not None or len(running) == workers:
                        break
                    if d.name not in started and all(dep in results for dep in d.deps):
                        started.add(d.name)
                        running[pool.submit(_with_caller_context(d.build))] = d.name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in sorted(done, key=lambda f: rank[running[f]]):
                    name = running.pop(fut)
                    try:
                        results[name] = fut.result()
                    except BaseException as exc:
                        if failure is None:
                            failure = exc
        if failure is not None:
            raise failure
        return {d.name: results[d.name] for d in order}
