"""ModelCollection: DAG run-order + provenance from dataset declarations.

Re-expresses AyeAye's ``lib/ayeaye/model_collection.py:13-358``: reflect
each model class's :class:`Connect` declarations (no instantiation),
classify READ→sources / WRITE→targets, and derive

* ``run_order()`` — Kahn-style layered topological sort returning a list
  of *sets* of models (each set's members can run concurrently;
  ``model_collection.py:123-203``), with cycle detection;
* ``dataset_provenance()`` — (model, model, dataset) lineage edges incl.
  leaf sources/targets (``model_collection.py:205-270``);
* ``mermaid_*()`` — text diagrams (``model_collection.py:315-358``).

``run()`` executes the layers: models inside a layer are submitted from
driver threads, so their jobs run side by side under Spark's default
FIFO scheduler — the earliest-submitted job's tasks take free cores
first, later jobs fill the cores it leaves idle (the reference delegated
this to an external executor).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import SparkSession

from .dataset import Connect
from .model import Model


class ModelGraphError(ValueError):
    pass


@dataclass
class ModelDataset:
    """A dataset node keyed by connect identity (``model_collection.py:273-295``)."""

    connect_id: str
    engine_url: Any

    def __hash__(self) -> int:
        return hash(self.connect_id)

    def __eq__(self, other: Any) -> bool:
        return isinstance(other, ModelDataset) and self.connect_id == other.connect_id


@dataclass
class ModelNode:
    model_class: type
    sources: set[ModelDataset] = field(default_factory=set)
    targets: set[ModelDataset] = field(default_factory=set)

    @property
    def name(self) -> str:
        return self.model_class.__name__


@dataclass
class ProvenanceEdge:
    """(model_a → model_b via dataset); model_a/b may be None for leaf
    sources/targets (``model_collection.py:205-270``)."""

    model_a: type | None
    model_b: type | None
    dataset: ModelDataset


class ModelCollection:
    def __init__(self, models: type | Iterable[type]):
        if isinstance(models, type):
            models = [models]
        models = list(models)
        for m in models:
            if not (isinstance(m, type) and issubclass(m, Model)):
                raise ModelGraphError(f"{m!r} is not a Model subclass")
        self.models: list[type] = models

    # -- graph construction (model_collection.py:59-121) ---------------
    def _base_graph(self) -> list[ModelNode]:
        nodes = []
        for model_class in self.models:
            node = ModelNode(model_class)
            for connect in model_class.connects().values():
                self._classify(node, connect)
            nodes.append(node)
        return nodes

    @staticmethod
    def _classify(node: ModelNode, connect: Connect) -> None:
        urls = connect.engine_url
        if isinstance(urls, (list, tuple)):
            datasets = [ModelDataset(str(u), u) for u in urls]
        else:
            datasets = [ModelDataset(connect.connect_id(), urls)]
        for ds in datasets:
            if connect.access.can_read:
                node.sources.add(ds)
            if connect.access.can_write:
                node.targets.add(ds)

    # -- run order (model_collection.py:123-203) ------------------------
    def run_order(self) -> list[set[type]]:
        nodes = self._base_graph()
        all_targets: set[ModelDataset] = set()
        for n in nodes:
            all_targets |= n.targets
        # leaf sources: data that no model in the collection produces
        satisfied: set[ModelDataset] = set()
        for n in nodes:
            satisfied |= n.sources - all_targets

        remaining = list(nodes)
        layers: list[set[type]] = []
        while remaining:
            # a model's OWN outputs never block it: a READWRITE dataset
            # (write, then read back in post_build_check) is a
            # self-loop, not a dependency — but ONLY when no other
            # still-pending model also produces it (a READWRITE reader
            # of another model's output must wait for that producer;
            # two READWRITE appenders of one dataset stay a loud cycle
            # error, never a silent concurrent-write race).  (The
            # reference reaches self-runnability by accident —
            # model_collection.py:114 tests ``access in [WRITE, WRITE]``
            # so READWRITE never counts as a target at all, silently
            # LOSING downstream ordering; here the dataset still orders
            # producer before consumers.)
            ready = []
            for n in remaining:
                others_targets: set[ModelDataset] = set()
                for m in remaining:
                    if m is not n:
                        others_targets |= m.targets
                self_only = n.targets - others_targets
                if (n.sources - self_only) <= satisfied:
                    ready.append(n)
            if not ready:
                cyclic = ", ".join(n.name for n in remaining)
                raise ModelGraphError(
                    f"models can't be built into a single acyclic graph: {cyclic}"
                )
            layers.append({n.model_class for n in ready})
            for n in ready:
                satisfied |= n.targets
            remaining = [n for n in remaining if n.model_class not in layers[-1]]
        return layers

    # -- provenance (model_collection.py:205-270) ------------------------
    def dataset_provenance(self) -> list[ProvenanceEdge]:
        nodes = self._base_graph()
        edges: list[ProvenanceEdge] = []
        producers: dict[ModelDataset, list[ModelNode]] = {}
        consumers: dict[ModelDataset, list[ModelNode]] = {}
        for n in nodes:
            for ds in n.targets:
                producers.setdefault(ds, []).append(n)
            for ds in n.sources:
                consumers.setdefault(ds, []).append(n)
        seen_datasets: set[ModelDataset] = set(producers) | set(consumers)
        for ds in seen_datasets:
            prods = producers.get(ds, [])
            cons = consumers.get(ds, [])
            if prods and cons:
                for p in prods:
                    for c in cons:
                        edges.append(ProvenanceEdge(p.model_class, c.model_class, ds))
            elif prods:
                for p in prods:
                    edges.append(ProvenanceEdge(p.model_class, None, ds))  # leaf target
            elif cons:
                for c in cons:
                    edges.append(ProvenanceEdge(None, c.model_class, ds))  # leaf source
        deduped = {(e.model_a, e.model_b, e.dataset.connect_id): e for e in edges}
        return list(deduped.values())

    # -- execution -------------------------------------------------------
    def run(self, spark: SparkSession | None = None, concurrent: bool = True) -> list[Model]:
        """Execute every model in dependency order; returns instances."""
        executed: list[Model] = []
        for layer in self.run_order():
            ordered = sorted(layer, key=lambda c: c.__name__)
            if concurrent and len(ordered) > 1:
                with ThreadPoolExecutor(max_workers=len(ordered)) as pool:
                    futures = []
                    for model_class in ordered:
                        inst = model_class()
                        if spark is not None:
                            inst.set_spark(spark)
                        executed.append(inst)
                        futures.append(pool.submit(inst.go))
                    for f in futures:
                        if not f.result():
                            raise RuntimeError("model run failed (check logs)")
            else:
                for model_class in ordered:
                    inst = model_class()
                    if spark is not None:
                        inst.set_spark(spark)
                    executed.append(inst)
                    if not inst.go():
                        raise RuntimeError(f"{model_class.__name__} failed (check logs)")
        return executed

    # -- mermaid (model_collection.py:315-358) ----------------------------
    def mermaid_run_order(self) -> str:
        lines = ["graph TD"]
        prev: list[str] = []
        for i, layer in enumerate(self.run_order()):
            names = sorted(c.__name__ for c in layer)
            for name in names:
                lines.append(f"  {name}[{name}]")
                for p in prev:
                    lines.append(f"  {p} --> {name}")
            prev = names
        return "\n".join(lines)

    def mermaid_data_provenance(self) -> str:
        lines = ["graph LR"]

        def label(ds: ModelDataset) -> str:
            return str(ds.engine_url).replace('"', "'")

        for edge in sorted(
            self.dataset_provenance(),
            key=lambda e: (
                e.model_a.__name__ if e.model_a else "",
                e.model_b.__name__ if e.model_b else "",
                e.dataset.connect_id,
            ),
        ):
            a = edge.model_a.__name__ if edge.model_a else f"source_{abs(hash(edge.dataset)) % 997}(({label(edge.dataset)}))"
            b = edge.model_b.__name__ if edge.model_b else f"target_{abs(hash(edge.dataset)) % 997}(({label(edge.dataset)}))"
            if edge.model_a and edge.model_b:
                lines.append(f'  {a} -->|"{label(edge.dataset)}"| {b}')
            else:
                lines.append(f"  {a} --> {b}")
        return "\n".join(lines)
