"""Persisted IVF vector index — the ANN analogue of the dedup index.

:func:`ivf_topk` (operators/similarity.py) trains centroids per call:
correct, but at 100 TB the index must be built ONCE, stored, and
maintained per load.  This module materializes the IVF layout as a
LakeTable (the layout ivf_topk's docstring names):

- rows are ``(centroid int, <id_col> , <vec_col> array<double>)``,
  hive-partitioned by ``centroid`` — every inverted list is its own
  partition, so probing ``nprobe`` lists is PARTITION PRUNING, not a scan;
- the trained centroid matrix lives in a metadata sidecar file
  (``metadata/ann-centroids-*.json``) referenced from table
  properties — snapshots stay small, the matrix is read once per
  operator call and never rides a commit;
- new loads append through :func:`append_vectors`: vectors are assigned
  to the FROZEN centroids map-side and land as a delta commit (parent
  manifests by reference) — no retrain, no rewrite, O(batch) per load,
  the same lifecycle as ``build_dedup_index``/``append_novel_classes``;
- takedowns go through :func:`delete_vectors` (MoR equality deletes on
  the id column — every probe masks automatically; compaction folds them
  physically), and the CDC stream maintainer
  (``streaming/vector.py changes=True``) drives both appends and deletes
  from the source table's change feed;
- :func:`ivf_topk_persisted` probes the stored lists with the same
  scoring/ranking contract as ``ivf_topk`` (query-side broadcast with a
  shuffle fallback past the budget, JVM cosine fold, per-query window
  top-k); quantized rungs share the layout — ``sq=True`` (int8/dim,
  JVM decode) and ``pq=True`` (ADC via :func:`ivf_pq_topk_persisted`,
  probe-gated kernel: a batch scores only the queries that probed its
  list and emits their local top-k), with ``pq_residual=True`` storing
  FAISS-style residual codes (x̂ − c_list — better recall at the same
  code budget on clustered corpora).

Drift: after heavy appends the frozen centroids still partition the
space correctly (assignment is always argmax against the stored matrix)
— recall against the TRUE nearest lists degrades only as the data
distribution moves, the standard FAISS operating assumption.
:func:`index_stats` (list skew, from manifests) and :func:`probe_recall`
(recall@k per nprobe) are the triggers; :func:`rebuild_vector_index`
re-trains and re-assigns ALL rows in one atomic replace (a second
``write_vector_index`` refuses — it would silently mix centroid sets).

Reference parity: the reference has no vector surface at all; this is
part of the LLM-training-data layer the build brief adds on top
(SURVEY.md §C similarity search: "IVF or LSH-bucketed variant as the
scale path", made persistent).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dlt_iceberg_spark.operators.similarity import (
    _as_double,
    _nearest_centroids,
    _train_spherical_kmeans,
    cosine,
)
from dlt_iceberg_spark.operators.util import fan_out

#: table property keys (the index's self-describing contract)
_PROP_FILE = "vector-index.centroids-file"
_PROP_VEC = "vector-index.vec-col"
_PROP_ID = "vector-index.id-col"
_PROP_N = "vector-index.n-centroids"
_PROP_METRIC = "vector-index.metric"
_PROP_PQ = "vector-index.pq"  # "m,k" when the index stores PQ codes
_PROP_PQ_RES = "vector-index.pq-residual"  # "true" when PQ codes are residuals
_PROP_PQ_OPQ = "vector-index.pq-opq"  # "true" when PQ codes are OPQ-rotated
_PROP_SQ = "vector-index.sq"  # "levels" when the index stores SQ codes
_PROP_META = "vector-index.metadata-cols"  # csv of filterable passthroughs


def _assigned(
    batch: DataFrame,
    centroids,
    vec_col: str,
    id_col: str,
    extra_cols: tuple | list = (),
) -> DataFrame:
    """Map-side list assignment: (id, vector, centroid[, metadata…]) — one
    Arrow-batched BLAS argmax against the broadcast centroid matrix, no
    shuffle."""
    assign1 = _nearest_centroids(centroids, 1)
    return fan_out(_as_double(batch, vec_col)).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
        assign1(F.col(vec_col))[0].cast("int").alias("centroid"),
        *[F.col(c) for c in extra_cols],
    )


_INDEX_SPEC = [{"column": "centroid", "transform": "identity"}]


def write_vector_index(
    table,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    pq: bool = False,
    m_subspaces: int = 8,
    k_codes: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    pq_residual: bool = False,
    pq_opq: bool = False,
    sq: bool = False,
    sq_levels: int = 256,
    store_vectors: bool = True,
    metadata_cols: list[str] | None = None,
):
    """Train (bounded sample — O(sample), never O(corpus)) and materialize
    the IVF index into ``table`` (a LakeTable handle; a fresh location gets
    its create commit here — the ``write_dedup_index`` shape, which lets
    the STREAMING maintainer bootstrap the index on its first nonempty
    epoch).  Pass ``centroids=`` to skip training (the gate uses
    hash-deterministic ones).

    ``pq=True`` makes it an IVF-PQ index (the FAISS composite): rows also
    carry ``pq_code: array<int>`` (``m_subspaces`` one-byte codes from
    per-subspace codebooks stored in the sidecar) so
    :func:`ivf_pq_topk_persisted` scores probed lists with ADC table
    lookups instead of float dot products; ``store_vectors=False``
    additionally DROPS the raw vector column — a 64-dim fp32 corpus
    shrinks ~32× in the index, the layout for corpora whose vectors
    cannot reside at all.

    ``pq_residual=True`` (with ``pq=True``) stores RESIDUAL codes — each
    row encodes ``x̂ − c_list`` instead of ``x̂``, the FAISS ``IVFPQ``
    default: once the coarse centroids explain the between-cluster
    spread, the code budget quantizes only the (much tighter) within-list
    offsets, so recall at the same ``m×k`` is strictly better on
    clustered corpora (pinned in pytest).  Costs nothing at query time —
    the per-list ADC tables build executor-side per batch, and each
    inverted list is one partition so the build amortizes over the whole
    batch.  Lifecycle: appends encode against the frozen centroids +
    codebooks, ``split_list`` re-encodes ONLY the split rows (their list
    centroid moved), ``rebuild_vector_index`` re-trains the codebooks
    against the new centroids.

    ``sq=True`` makes it an IVF-SQ index (FAISS ``IVF,SQ8``): rows carry
    ``sq_code: array<int>`` — one int8 level per DIMENSION against exact
    per-dim [min, max] stats stored in the sidecar (``sq_train``: one
    aggregate pass, deterministic, no sampling).  4× smaller than fp32
    with ``store_vectors=False``, and the probe decodes + scores entirely
    in JVM higher-order functions — no Arrow batch, unlike PQ's ADC.
    :func:`ivf_topk_persisted` detects the layout and decodes
    transparently.  Mutually exclusive with ``pq``.

    ``metadata_cols`` are filterable passthrough columns (tenant, label,
    language…) carried INTO the index rows so
    :func:`ivf_topk_persisted(where=...)` can bound candidates by
    metadata before any distance math — the per-tenant retrieval shape.
    Returns the index snapshot.

    Re-building over an EXISTING index is refused: a second build would
    append rows assigned under NEW centroids while old rows keep their
    old list assignments and the sidecar pointer flips — probe-all stays
    exact, but ``nprobe < n_lists`` recall silently degrades on the old
    rows.  Re-train with :func:`rebuild_vector_index` (one atomic replace
    that re-assigns every stored row)."""
    if table.current_version() is not None and _PROP_FILE in (
        table.snapshot().properties or {}
    ):
        raise ValueError(
            f"{table.location} already holds a built vector index; new "
            "loads go through append_vectors (frozen centroids) and "
            "re-training goes through rebuild_vector_index (atomic "
            "re-assignment of ALL rows) — a second write_vector_index "
            "would mix assignments from two centroid sets"
        )
    if (pq or codebooks is not None) and sq:
        raise ValueError("pq and sq are mutually exclusive index layouts")
    if pq_residual and not (pq or codebooks is not None):
        raise ValueError("pq_residual requires a PQ layout (pq=True)")
    if pq_opq and not pq:
        raise ValueError("pq_opq requires a PQ layout (pq=True)")
    if pq_opq and codebooks is not None:
        raise ValueError(
            "pq_opq trains rotation AND codebooks together (opq_train) - "
            "explicit codebooks= cannot be paired with a learned rotation"
        )
    if centroids is None:
        centroids = _train_spherical_kmeans(corpus, vec_col, n_centroids, seed)
    rotation = None
    if pq and pq_opq:
        from dlt_iceberg_spark.operators.quantization import opq_train

        # OPQ learns the rotation and the rotated-frame codebooks in one
        # alternating solve (rotation applies AFTER residualization, so
        # the coarse frame / assignments stay raw)
        rotation, codebooks = opq_train(
            corpus, vec_col, m_subspaces, k_codes, seed=seed,
            centroids=centroids if pq_residual else None,
        )
    elif pq and codebooks is None:
        from dlt_iceberg_spark.operators.quantization import pq_train

        # residual mode trains the codebooks on x̂ − c(x̂) against the SAME
        # coarse centroids the lists use — the FAISS IVFPQ contract
        codebooks = pq_train(
            corpus, vec_col, m_subspaces, k_codes, seed=seed,
            centroids=centroids if pq_residual else None,
        )
    sq_stats = None
    if sq:
        from dlt_iceberg_spark.operators.quantization import sq_train

        mins, maxs = sq_train(corpus, vec_col)
        sq_stats = {"mins": mins, "maxs": maxs, "levels": int(sq_levels)}
    assigned = _assigned(
        corpus, centroids, vec_col, id_col, extra_cols=metadata_cols or ()
    )
    if codebooks is not None:
        assigned = _with_codes(
            assigned, codebooks, vec_col, store_vectors,
            centroids=centroids if pq_residual else None,
            rotation=rotation,
        )
    if sq_stats is not None:
        from dlt_iceberg_spark.operators.quantization import sq_encode

        assigned = sq_encode(
            assigned,
            sq_stats["mins"],
            sq_stats["maxs"],
            vec_col,
            sq_stats["levels"],
            keep_vec=store_vectors,
        )
    props = {
        _PROP_VEC: vec_col,
        _PROP_ID: id_col,
        _PROP_N: str(len(centroids)),
        _PROP_METRIC: "cosine",
    }
    if codebooks is not None:
        props[_PROP_PQ] = f"{len(codebooks)},{len(codebooks[0])}"
        if pq_residual:
            props[_PROP_PQ_RES] = "true"
        if rotation is not None:
            props[_PROP_PQ_OPQ] = "true"
    if sq_stats is not None:
        props[_PROP_SQ] = str(sq_stats["levels"])
    if metadata_cols:
        props[_PROP_META] = ",".join(metadata_cols)
    if table.current_version() is None:
        table.commit(
            [],
            assigned.schema,
            "create",
            None,
            partition_spec=list(_INDEX_SPEC),
            properties=props,
        )
    # centroid matrix as a metadata SIDECAR (Puffin-statistics shape): the
    # snapshot JSON carries only its path — a 4096×1024 float matrix must
    # never ride every commit
    rel = f"metadata/ann-centroids-{uuid.uuid4().hex}.json"
    if codebooks is None and sq_stats is None:
        side_payload: Any = centroids
    else:
        side_payload = {"centroids": centroids}
        if codebooks is not None:
            side_payload["codebooks"] = codebooks
            if pq_residual:
                side_payload["pq_residual"] = True
            if rotation is not None:
                side_payload["rotation"] = rotation
        if sq_stats is not None:
            side_payload["sq"] = sq_stats
    table._io.write_text(
        os.path.join(table.location, rel), json.dumps(side_payload)
    )
    snap = table.snapshot()
    from dlt_iceberg_spark.partition import PartitionField, partition_columns

    pcols = partition_columns([PartitionField(column="centroid", transform="identity")])
    # co-locate each inverted list before staging: without this the
    # assignment fan-out × partitionBy writes O(tasks × lists) tiny files
    # and every probe pays their open/footer cost — one-ish file per list
    # per load is the natural floor (compaction merges across loads)
    files = table.stage_dataframe(
        assigned.repartition(len(centroids), F.col("centroid")),
        partition_exprs=pcols,
    )
    return table.commit(
        files,
        assigned.schema,
        "append",
        snap.version,
        partition_spec=snap.partition_spec,
        properties={**snap.properties, **props, _PROP_FILE: rel},
        summary={"vector-index-build": len(centroids)},
    )


def build_vector_index(
    catalog,
    namespace: str,
    name: str,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    **pq_options,
):
    """Catalog-level :func:`write_vector_index`: create the table in
    ``catalog`` and materialize the index (``pq_options`` — ``pq=``,
    ``m_subspaces=``, ``k_codes=``, ``codebooks=``, ``store_vectors=`` —
    pass through for the IVF-PQ form).  Returns the LakeTable."""
    from dlt_iceberg_spark.errors import TableAlreadyExistsError
    from dlt_iceberg_spark.lake.table import LakeTable

    if catalog.table_exists(namespace, name):
        raise TableAlreadyExistsError(f"{namespace}.{name}")
    catalog.create_namespace(namespace)
    loc = catalog.table_location(namespace, name)
    table = LakeTable(
        corpus.sparkSession,
        loc,
        io=catalog._io,
        pointer_store=catalog._pointer_store_for(loc),
    )
    write_vector_index(
        table,
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        n_centroids=n_centroids,
        seed=seed,
        centroids=centroids,
        **pq_options,
    )
    return catalog.load_table(namespace, name)


def _with_codes(
    assigned: DataFrame,
    codebooks,
    vec_col: str,
    store_vectors: bool,
    centroids=None,
    rotation=None,
) -> DataFrame:
    from dlt_iceberg_spark.operators.quantization import pq_encode

    # one Arrow-batched encode pass either way; keep_vec decides whether
    # the fp32 column rides along into the index rows; centroids= switches
    # to residual codes (x̂ − the row's already-assigned list centroid);
    # rotation= applies the frozen OPQ transform before the argmin
    return pq_encode(
        assigned, codebooks, vec_col, keep_vec=store_vectors,
        centroids=centroids, centroid_col="centroid", rotation=rotation,
    )


def _load_sidecar(table) -> dict:
    snap = table.snapshot()
    rel = snap.properties.get(_PROP_FILE)
    if rel is None:
        raise ValueError(
            f"{table.location} carries no vector-index metadata; was it "
            "created by build_vector_index?"
        )
    raw = json.loads(table._io.read_text(os.path.join(table.location, rel)))
    return raw if isinstance(raw, dict) else {"centroids": raw}


def load_centroids(table) -> list[list[float]]:
    """The index's frozen centroid matrix (metadata sidecar, one read)."""
    return _load_sidecar(table)["centroids"]


def load_codebooks(table) -> list[list[list[float]]]:
    """The IVF-PQ index's frozen per-subspace codebooks."""
    side = _load_sidecar(table)
    if "codebooks" not in side:
        raise ValueError(
            f"{table.location} is a plain IVF index (no PQ codes); build "
            "with pq=True for ADC scoring"
        )
    return side["codebooks"]


def append_vectors(table, batch: DataFrame) -> Any:
    """Per-load index maintenance: assign the batch to the FROZEN centroids
    map-side and delta-append into the partitioned layout — parent
    manifests pass by reference, O(batch) work, no retrain.  New vectors
    are immediately visible to :func:`ivf_topk_persisted`.

    Concurrency: files stage ONCE; the commit retries on
    ``CommitConflictError`` against a re-read head (the writer's
    optimistic pattern — a racing delete/append never forces re-staging).
    If the race was a REBUILD (the sidecar pointer moved), the staged
    assignments were computed under the old centroids and the append
    refuses with a re-run message instead of committing a mixed layout."""
    from dlt_iceberg_spark.partition import PartitionField, partition_columns

    snap = table.snapshot()
    side = _load_sidecar(table)
    frozen_rel = snap.properties.get(_PROP_FILE)
    vec_col = snap.properties[_PROP_VEC]
    meta_cols = [
        c for c in snap.properties.get(_PROP_META, "").split(",") if c
    ]
    assigned = _assigned(
        batch,
        side["centroids"],
        vec_col,
        snap.properties[_PROP_ID],
        extra_cols=meta_cols,
    )
    if "codebooks" in side:
        # IVF-PQ index: encode against the FROZEN codebooks too (residual
        # layouts subtract the row's frozen list centroid first)
        store_vectors = any(f.name == vec_col for f in snap.schema.fields)
        assigned = _with_codes(
            assigned, side["codebooks"], vec_col, store_vectors,
            centroids=side["centroids"] if side.get("pq_residual") else None,
            rotation=side.get("rotation"),
        )
    if "sq" in side:
        # IVF-SQ index: encode against the FROZEN per-dim stats (values
        # outside the trained range clamp to the edge levels)
        from dlt_iceberg_spark.operators.quantization import sq_encode

        sqs = side["sq"]
        assigned = sq_encode(
            assigned,
            sqs["mins"],
            sqs["maxs"],
            vec_col,
            sqs["levels"],
            keep_vec=any(f.name == vec_col for f in snap.schema.fields),
        )
    pcols = partition_columns([PartitionField(column="centroid", transform="identity")])
    new_files = table.stage_dataframe(
        assigned.repartition(len(side["centroids"]), F.col("centroid")),
        partition_exprs=pcols,
    )
    if not new_files:
        return snap

    def check(head):
        if head.properties.get(_PROP_FILE) != frozen_rel:
            raise ValueError(  # assignments are stale: refuse, never retry
                f"{table.location} was rebuilt concurrently; re-run "
                "append_vectors so the batch is assigned under the NEW "
                "centroids"
            )

    return table.commit_on_head(
        "append",
        new_files=new_files,
        summary={"vectors-appended": sum(f.rows for f in new_files)},
        check=check,
    )


def delete_vectors(table, ids: DataFrame) -> Any:
    """The takedown path: remove vectors from the persisted index by id,
    merge-on-read.

    ``ids`` is any DataFrame carrying the index's id column (extra columns
    are ignored).  The ids land as an EQUALITY-delete file keyed on the id
    column and the commit reuses parent manifests by reference — O(batch)
    work, no data-file rewrites, and every read path
    (:func:`ivf_topk_persisted`, :func:`ivf_pq_topk_persisted`, rerank)
    applies the mask automatically because probing goes through
    ``LakeTable.read``.  Equality deletes mask strictly-smaller sequences
    only, so a later :func:`append_vectors` may legally re-insert an id
    (the upsert shape the CDC maintainer relies on).  Physical reclamation
    is ordinary maintenance: ``fold_deletes`` / ``compact_table`` rewrite
    the masked rows away.

    Corpus hard deletes (``lake/merge.py`` hard_delete_col, reference
    destination_client.py:1214-1254) propagate here via the CDC maintainer
    (``stream_index_vectors(changes=True)``) or a direct call."""
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    if _PROP_VEC not in snap.properties:
        raise ValueError(
            f"{table.location} carries no vector-index metadata; was it "
            "created by build_vector_index?"
        )
    id_col = snap.properties[_PROP_ID]
    if id_col not in ids.columns:
        raise ValueError(f"ids frame lacks the index id column {id_col!r}")
    new_deletes = table.stage_delete_files(ids.select(id_col), [id_col])
    if not new_deletes:
        return snap
    # stage once, retry the commit against a re-read head — id-keyed
    # equality deletes stay correct across any concurrent append or even
    # a rebuild (they mask whatever rows carry those ids at commit time)
    return table.commit_on_head(
        "delete",
        new_deletes=new_deletes,
        summary={"vector-delete-keys": sum(d.rows for d in new_deletes)},
    )


def rebuild_vector_index(
    table,
    n_centroids: int | None = None,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> Any:
    """Re-train and re-assign the WHOLE index in one atomic replace — the
    drift escape hatch :func:`write_vector_index`'s refusal names.

    Reads every LIVE row (MoR delete masks applied, so takedowns fold out
    physically here), re-trains centroids on the stored corpus (bounded
    sample — or takes ``centroids=`` verbatim), re-encodes PQ codes when
    the index carries them (new ``codebooks=`` or re-trained), re-clusters
    each new inverted list, and commits ONE replace snapshot with a fresh
    sidecar — readers see either the old index or the new one, never a
    mix, and time travel to the pre-rebuild snapshot still works.

    Cost: one clustered rewrite of the index (the ``rewrite_zorder``
    shape) — O(index), paid when :func:`index_stats` skew says the frozen
    centroids stopped partitioning the space.  Requires stored vectors
    (``store_vectors=False`` indexes keep codes only; re-assignment needs
    the fp32 vectors — rebuild from the source corpus instead)."""
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    side = _load_sidecar(table)
    vec_col = snap.properties[_PROP_VEC]
    id_col = snap.properties[_PROP_ID]
    if not any(f.name == vec_col for f in snap.schema.fields):
        raise ValueError(
            "rebuild needs stored vectors; this index was built with "
            "store_vectors=False — re-run build from the source corpus"
        )
    meta_cols = [c for c in snap.properties.get(_PROP_META, "").split(",") if c]
    live = table.read().select(id_col, vec_col, *meta_cols)
    if centroids is None:
        centroids = _train_spherical_kmeans(
            live, vec_col, n_centroids or int(snap.properties[_PROP_N]), seed
        )
    residual = bool(side.get("pq_residual")) if "codebooks" in side else False
    rotation = None
    if "codebooks" in side and codebooks is None:
        # a residual index re-trains its codebooks against the NEW coarse
        # centroids (stale frames would quantize the wrong distribution);
        # an OPQ index re-learns rotation AND codebooks together; an
        # explicit codebooks= is trusted to be trained the same way
        old = side["codebooks"]
        if "rotation" in side:
            from dlt_iceberg_spark.operators.quantization import opq_train

            rotation, codebooks = opq_train(
                live, vec_col, len(old), len(old[0]), seed=seed,
                centroids=centroids if residual else None,
            )
        else:
            from dlt_iceberg_spark.operators.quantization import pq_train

            codebooks = pq_train(
                live, vec_col, len(old), len(old[0]), seed=seed,
                centroids=centroids if residual else None,
            )
    new_sq = None
    if "sq" in side:
        # re-train the per-dim stats on the LIVE corpus (exact pass)
        from dlt_iceberg_spark.operators.quantization import sq_train

        mins, maxs = sq_train(live, vec_col)
        new_sq = {"mins": mins, "maxs": maxs, "levels": side["sq"]["levels"]}
    assigned = _assigned(live, centroids, vec_col, id_col, extra_cols=meta_cols)
    if codebooks is not None:
        assigned = _with_codes(
            assigned, codebooks, vec_col, store_vectors=True,
            centroids=centroids if residual else None,
            rotation=rotation,
        )
    if new_sq is not None:
        from dlt_iceberg_spark.operators.quantization import sq_encode

        assigned = sq_encode(
            assigned, new_sq["mins"], new_sq["maxs"], vec_col,
            new_sq["levels"], keep_vec=True,
        )
    rel = f"metadata/ann-centroids-{uuid.uuid4().hex}.json"
    if codebooks is None and new_sq is None:
        side_payload: Any = centroids
    else:
        side_payload = {"centroids": centroids}
        if codebooks is not None:
            side_payload["codebooks"] = codebooks
            if residual:
                side_payload["pq_residual"] = True
            if rotation is not None:
                side_payload["rotation"] = rotation
        if new_sq is not None:
            side_payload["sq"] = new_sq
    table._io.write_text(
        os.path.join(table.location, rel), json.dumps(side_payload)
    )
    from dlt_iceberg_spark.partition import PartitionField, partition_columns

    pcols = partition_columns([PartitionField(column="centroid", transform="identity")])
    new_files = table.stage_dataframe(
        assigned.repartition(len(centroids), F.col("centroid")),
        partition_exprs=pcols,
    )
    return table.commit(
        new_files,
        assigned.schema,
        "replace",
        snap.version,
        partition_spec=snap.partition_spec,
        # the rewrite folded every outstanding mask into the live read —
        # carrying the old delete files forward would only tax planning
        delete_files=[],
        properties={
            **snap.properties,
            _PROP_FILE: rel,
            _PROP_N: str(len(centroids)),
            **(
                {_PROP_PQ: f"{len(codebooks)},{len(codebooks[0])}"}
                if codebooks is not None
                else {}
            ),
        },
        summary={"vector-index-rebuild": len(centroids)},
    )


def split_list(
    table,
    centroid: int,
    k_split: int = 2,
    seed: int = 42,
) -> Any:
    """Incremental re-clustering: split ONE over-full inverted list into
    ``k_split`` sub-lists, rewriting ONLY that list's files — the middle
    path between "append forever" (frozen centroids concentrate probe cost
    on a hot list) and :func:`rebuild_vector_index` (O(index), blunt at
    100 TB when :func:`index_stats` shows a single hot list).

    Mechanics: train ``k_split`` sub-centroids on the hot list's LIVE rows
    (bounded sample), keep centroid id ``centroid`` for sub-centroid 0 and
    append the rest at fresh ids ``n..n+k_split−2`` — every OTHER list's
    id (and therefore its files and row assignments) is untouched, and a
    fresh sidecar carries the grown matrix.  Probe semantics are
    unchanged: assignment stays argmax over the full matrix, probe-all
    (``nprobe ≥ new n``) remains EXACT, and rows in non-split lists keep
    their standard FAISS frozen-centroid recall story.  Quantization
    frames (PQ codebooks / SQ stats) are id-independent and carry over —
    stored codes never re-encode.

    Cost: one clustered rewrite of the hot list (O(hot list), not
    O(index)); its MoR delete masks fold physically for that list as a
    side effect.  Works on stored-vector indexes; codes-only layouts
    refuse (sub-centroid training needs the fp32 vectors) toward a
    source-corpus rebuild."""
    from dlt_iceberg_spark.partition import PartitionField, partition_columns

    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    side = _load_sidecar(table)
    frozen_rel = snap.properties.get(_PROP_FILE)
    vec_col = snap.properties[_PROP_VEC]
    id_col = snap.properties[_PROP_ID]
    if not any(f.name == vec_col for f in snap.schema.fields):
        raise ValueError(
            "split_list needs stored vectors; this index was built with "
            "store_vectors=False — rebuild from the source corpus instead"
        )
    old = side["centroids"]
    n = len(old)
    if not (0 <= int(centroid) < n):
        raise ValueError(f"centroid {centroid} outside [0, {n})")
    if k_split < 2:
        raise ValueError("k_split must be >= 2 (1 would be a no-op rewrite)")
    # exactly the hot list's files: the index layout writes every file
    # under one identity partition tuple, so a file without an exact
    # tuple cannot be safely removed (it may hold other lists' rows)
    _, in_scope = table._select_files(snap, [("centroid", "=", int(centroid))])
    bad = [
        f
        for f in in_scope
        if str((f.partition or {}).get("centroid")) != str(int(centroid))
    ]
    if bad:
        raise ValueError(
            f"{len(bad)} in-scope files lack an exact centroid partition "
            "tuple; this table is not a cleanly partitioned vector index"
        )
    if not in_scope:
        raise ValueError(
            f"list {centroid} holds no files — nothing to split (empty "
            "lists waste a probe slot; rebuild_vector_index reclaims them)"
        )
    hot_paths = {f.path for f in in_scope}
    live = table.read(where=[("centroid", "=", int(centroid))])
    subs = _train_spherical_kmeans(
        live, vec_col, k_split, seed, sample_size=131_072
    )
    # global ids: sub 0 inherits the split id, the rest append at n..
    gids = [int(centroid)] + list(range(n, n + len(subs) - 1))
    matrix = list(old)
    matrix[int(centroid)] = subs[0]
    matrix.extend(subs[1:])
    assign1 = _nearest_centroids(subs, 1)
    gid_arr = F.array(*[F.lit(g) for g in gids])
    reassigned = fan_out(live).withColumn(
        "centroid",
        F.get(
            gid_arr, assign1(F.col(vec_col).cast("array<double>"))[0].cast("int")
        ).cast("int"),
    )
    if side.get("pq_residual"):
        # residual codes mean x̂ ≈ c_list + codeword: the split rows' list
        # centroid just MOVED, so their stored codes are stale — re-encode
        # them (and only them) against the frozen codebooks + the grown
        # matrix.  Raw-PQ / SQ codes are id-independent and ride untouched.
        from dlt_iceberg_spark.operators.quantization import pq_encode

        reassigned = pq_encode(
            reassigned.drop("pq_code"), side["codebooks"], vec_col,
            keep_vec=True, centroids=matrix, centroid_col="centroid",
            rotation=side.get("rotation"),
        ).select(*[f.name for f in snap.schema.fields])
    rel = f"metadata/ann-centroids-{uuid.uuid4().hex}.json"
    payload = dict(side)
    payload["centroids"] = matrix
    table._io.write_text(
        os.path.join(table.location, rel),
        json.dumps(payload if len(payload) > 1 else matrix),
    )
    pcols = partition_columns(
        [PartitionField(column="centroid", transform="identity")]
    )
    new_files = table.stage_dataframe(
        reassigned.repartition(len(subs), F.col("centroid")),
        partition_exprs=pcols,
    )
    from dlt_iceberg_spark.errors import RetryPolicy

    def attempt():
        head = table.snapshot()
        if head.properties.get(_PROP_FILE) != frozen_rel:
            raise ValueError(  # not retryable: the matrix we grew is stale
                f"{table.location} was rebuilt/rebalanced concurrently; "
                "re-run split_list against the new sidecar"
            )
        # keep everything but the hot list's files — a load appended to
        # the split list AFTER our snapshot stays (its rows just remain
        # assigned to the inherited id, same as any frozen-centroid row)
        keep = [f for f in head.files if f.path not in hot_paths]
        return table.commit(
            keep + new_files,
            head.schema,
            "replace",
            head.version,
            properties={
                **head.properties,
                _PROP_FILE: rel,
                _PROP_N: str(len(matrix)),
            },
            summary={
                "vector-index-split": int(centroid),
                "new-lists": len(subs),
            },
        )

    return RetryPolicy().run(attempt)


def rebalance_vector_index(
    table,
    threshold: float = 3.0,
    k_split: int = 2,
    max_splits: int = 1,
    seed: int = 42,
) -> list[dict]:
    """Policy wrapper over :func:`split_list`: while
    :func:`index_stats` reports ``skew > threshold``, split the hottest
    list (up to ``max_splits`` per call — each split is its own atomic
    snapshot).  Returns one report dict per split performed; empty when
    the index is already balanced.  The stats pass is manifest-only, so a
    no-op rebalance costs zero scans."""
    out: list[dict] = []
    for _ in range(max_splits):
        stats = index_stats(table)
        if stats["lists"] == 0 or stats["skew"] <= threshold:
            break
        groups = table.aggregate_stats(group_by=["centroid"])
        if groups is None:
            counts = {
                r["centroid"]: r["count"]
                for r in table.read().groupBy("centroid").count().collect()
            }
        else:
            counts = {g["centroid"]: g["count"] for g in groups}
        hot = max(counts, key=counts.get)
        split_list(table, int(hot), k_split=k_split, seed=seed)
        out.append(
            {"split": int(hot), "rows": int(counts[hot]), "k_split": k_split}
        )
    return out


def ivf_topk_persisted(
    queries: DataFrame,
    table,
    k: int = 10,
    nprobe: int = 4,
    where: list | None = None,
    broadcast_budget: int = 1_000_000,
) -> DataFrame:
    """Top-k over the PERSISTED index: queries probe the ``nprobe`` nearest
    stored lists only.

    Plan shape: the probed centroid ids (≤ n_centroids, tiny) push down as
    a ``(centroid, in, ids)`` predicate — partition/stats pruning keeps
    unprobed lists' files UNREAD — then the probe pairs broadcast onto the
    pruned scan, scored with the JVM cosine fold and ranked per query.
    Same output contract as ``ivf_topk``: (query_id, neighbor_id, cosine,
    rank), ranked by (cosine desc, neighbor_id asc), self-pairs excluded.
    With ``nprobe >= n_centroids`` results are EXACT (probe-all — every
    vector is in exactly one list), which is what lets the gate oracle
    hash-verify the whole persisted machinery against brute force.

    ``where`` (same predicate form as :meth:`LakeTable.read`) bounds
    candidates by the index's ``metadata_cols`` BEFORE any distance math
    — it rides the same pruned scan as the centroid probe, so filtered
    per-tenant retrieval costs the filter's survivors, never the lists.

    Works on plain (fp32) AND IVF-SQ indexes: a codes-only SQ layout is
    decoded JVM-side inside the pruned scan (the scan reads int8 lanes —
    4× fewer bytes).  Codes-only PQ refuses toward
    :func:`ivf_pq_topk_persisted`.

    Query-set scale: up to ``broadcast_budget`` query rows the probe
    pairs BROADCAST onto the pruned scan (the retrieval shape — no
    shuffle of the corpus side); past it the join falls back to a
    shuffle on ``centroid`` automatically (the batch-kNN-inference
    shape: a 100M-query batch must not be broadcast) — AQE's skew split
    handles hot lists.  The budget check is FREE: the query count falls
    out of the same ≤ n_centroids-row probe-stats collect that decides
    the partition prune (each query explodes to exactly ``p`` probe
    rows), so no extra job ever re-executes the query plan.
    """
    snap = table.snapshot()
    side = _load_sidecar(table)
    centroids = side["centroids"]
    vec_col = snap.properties[_PROP_VEC]
    id_col = snap.properties[_PROP_ID]
    p = min(nprobe, len(centroids))
    probe_n = _nearest_centroids(centroids, p)
    probes = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.explode(probe_n(F.col(vec_col))).alias("centroid"),
    )
    # ONE bounded driver collect (≤ n_centroids rows) decides BOTH the
    # partition prune and the broadcast-vs-shuffle budget: each query
    # explodes to exactly p probe rows, so sum(count)/p = |Q| — no second
    # job re-executing the query plan just to count it (ADVICE r10).
    probe_stats = probes.groupBy("centroid").count().collect()
    probed_ids = sorted(r["centroid"] for r in probe_stats)
    n_queries = sum(r["count"] for r in probe_stats) // p
    scan = table.read(where=[("centroid", "in", probed_ids)] + list(where or []))
    if any(f.name == vec_col for f in snap.schema.fields):
        cv = F.col(vec_col)
    elif "sq" in side:
        # IVF-SQ codes-only layout: decode JVM-side inside the pruned scan
        from dlt_iceberg_spark.operators.quantization import sq_decoded

        sqs = side["sq"]
        cv = sq_decoded(F.col("sq_code"), sqs["mins"], sqs["maxs"], sqs["levels"])
    else:
        raise ValueError(
            "this index stores PQ codes only; score with "
            "ivf_pq_topk_persisted (ADC) instead of the cosine probe"
        )
    lists = scan.select(
        F.col(id_col).alias("neighbor_id"),
        cv.alias("cv"),
        "centroid",
    )
    probe_side = F.broadcast(probes) if n_queries <= broadcast_budget else probes
    scored = (
        lists.join(probe_side, "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_pq_topk_persisted(
    queries: DataFrame,
    table,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
    where: list | None = None,
) -> DataFrame:
    """ADC top-k over the PERSISTED IVF-PQ index: probed lists prune as in
    :func:`ivf_topk_persisted`, but scoring is ``m`` integer table lookups
    per row against the queries' broadcast distance tables (ADC) — no
    float vector is read from the index at all, so the scan is ~codes-
    sized (32× smaller than fp32 at m=8/dim=64) and works on indexes
    built with ``store_vectors=False``.

    Output: (query_id, neighbor_id, adc_dist, rank), smaller = closer,
    ranked within each query's probed lists (FAISS IVF-PQ semantics; the
    recall-vs-exact contract is pinned in pytest, the code/ADC machinery
    is oracle-checkable with deterministic codebooks — same treatment as
    ``ann_pq``).

    ``rerank=N`` adds the FAISS refine step (requires ``store_vectors``):
    the per-query top-``N`` ADC candidates are re-scored with the EXACT
    cosine against the stored fp32 vectors and the final top-k is ranked
    by it — output becomes (query_id, neighbor_id, cosine, rank), the
    ``ivf_topk_persisted`` contract.  Cost: one pruned point-read of
    N·|Q| candidate vectors on top of the ADC pass — quantization error
    stops deciding ranks while the scan still never touches unprobed
    lists.

    ``where`` bounds candidates by the index's ``metadata_cols`` before
    any ADC lookup (same contract as :func:`ivf_topk_persisted` — it
    rides the pruned scan, and the rerank point-read applies it too so a
    filtered-out row can never re-enter through the refine)."""
    from dlt_iceberg_spark.operators.quantization import pq_topk

    snap = table.snapshot()
    side = _load_sidecar(table)
    if "codebooks" not in side:
        raise ValueError(
            f"{table.location} is a plain IVF index (no PQ codes); build "
            "with pq=True for ADC scoring"
        )
    centroids = side["centroids"]
    vec_col = snap.properties[_PROP_VEC]
    id_col = snap.properties[_PROP_ID]
    probe_n = _nearest_centroids(centroids, min(nprobe, len(centroids)))
    probes = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_n(F.col(vec_col))).alias("centroid"),
    )
    # ONE bounded collect (≤ n_centroids rows, |Q|·nprobe ids total — the
    # pq_topk query budget bounds it) yields BOTH the partition prune and
    # the per-list probe sets that gate scoring INSIDE the ADC kernel: a
    # batch scores only the queries that probed its list and emits their
    # local top-k, so a neighbor from an unprobed list never crowds a
    # real candidate out AND unprobing queries cost zero flops — the old
    # allowed-pairs join scored every query against every probed row and
    # shuffled the full |batch|·|Q| cross product before pruning it.
    probe_sets = {
        r["centroid"]: r["qs"]
        for r in probes.groupBy("centroid")
        .agg(F.collect_list("query_id").alias("qs"))
        .collect()
    }
    probed_ids = sorted(probe_sets)
    lists = table.read(
        where=[("centroid", "in", probed_ids)] + list(where or [])
    ).select(id_col, "pq_code", "centroid")
    residual = bool(side.get("pq_residual"))
    out = pq_topk(
        queries,
        lists,
        side["codebooks"],
        vec_col,
        id_col,
        k if rerank is None else max(int(rerank), k),
        probe_sets=probe_sets,
        centroids=centroids if residual else None,
        rotation=side.get("rotation"),
    )
    if rerank is None:
        return out
    # FAISS refine: exact-cosine re-rank of the per-query ADC top-N
    if not any(f.name == vec_col for f in snap.schema.fields):
        raise ValueError(
            "rerank needs stored vectors; this index was built with "
            "store_vectors=False"
        )
    cands = out.select("query_id", "neighbor_id")
    vecs = table.read(
        where=[("centroid", "in", probed_ids)] + list(where or [])
    ).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        cands.join(vecs, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def probe_recall(
    table,
    queries: DataFrame,
    k: int = 10,
    nprobes: tuple | list = (1, 2, 4, 8),
    where: list | None = None,
) -> list[dict]:
    """Empirical recall@k per ``nprobe`` against probe-all ground truth
    over the SAME index — the other half of the rebuild trigger:
    :func:`index_stats` says how skewed the lists are, this says what
    that skew (or centroid drift after heavy appends) actually costs at
    query time.  When recall at the production ``nprobe`` sags below the
    SLO, :func:`rebuild_vector_index` is the remedy.

    ``queries`` should be a BOUNDED sample (every row's top-k collects to
    the driver — |Q|·k pairs per tier, so a few hundred queries is the
    right size).  Works on fp32 and SQ layouts (everything
    :func:`ivf_topk_persisted` scores).  Returns
    ``[{"nprobe": n, "recall": r}, ...]`` sorted by nprobe."""
    n_lists = int(table.snapshot().properties[_PROP_N])

    def pairs(nprobe: int) -> dict:
        rows = ivf_topk_persisted(
            queries, table, k=k, nprobe=nprobe, where=where
        ).collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return by_q

    truth = pairs(n_lists)
    out = []
    for nprobe in sorted({min(int(n), n_lists) for n in nprobes}):
        got = pairs(nprobe)
        per_q = [
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items() if t
        ]
        out.append(
            {
                "nprobe": nprobe,
                "recall": round(sum(per_q) / len(per_q), 4) if per_q else 1.0,
            }
        )
    return out


def index_stats(table) -> dict:
    """The index's list-skew profile from MANIFESTS alone — zero scans.

    Composes the partition-grouped metadata aggregates
    (``LakeTable.aggregate_stats(group_by="centroid")``) with the index's
    self-describing properties: per-inverted-list row counts decide when
    a frozen-centroid index needs retraining (a hot list concentrates
    probe cost; an empty one wastes a probe slot).  At any index size
    this is O(manifest refs).

    Returns ``{"lists", "rows", "min_list", "max_list", "avg_list",
    "skew", "files", "max_files_per_list"}`` where ``skew = max/avg``
    (1.0 = perfectly balanced).  ``max_files_per_list`` is the probe-time
    open/footer cost signal: every :func:`append_vectors` lands ~1 file
    per list, so after N loads it reads ~N — ``compact_table`` collapses
    it back to ~1 (partition-preserving rewrite; pinned in
    tests/test_vector_index.py).
    """
    snap = table.snapshot()
    if snap is None:
        raise FileNotFoundError(f"no such table: {table.location}")
    if _PROP_VEC not in snap.properties:
        raise ValueError(
            f"{table.location} carries no vector-index metadata; was it "
            "created by build_vector_index?"
        )
    groups = table.aggregate_stats(group_by=["centroid"])
    if groups is None:
        # MoR masks or missing stats: fall back to one scan
        rows = [
            (r["centroid"], r["count"])
            for r in table.read()
            .groupBy("centroid")
            .count()
            .collect()
        ]
        counts = {c: n for c, n in rows}
    else:
        counts = {g["centroid"]: g["count"] for g in groups}
    n_lists = len(counts)
    total = sum(counts.values())
    avg = total / n_lists if n_lists else 0.0
    fcounts: dict[str, int] = {}
    for f in snap.files:
        key = (f.partition or {}).get("centroid")
        fcounts[key] = fcounts.get(key, 0) + 1
    return {
        "lists": n_lists,
        "rows": total,
        "min_list": min(counts.values(), default=0),
        "max_list": max(counts.values(), default=0),
        "avg_list": round(avg, 2),
        "skew": round(max(counts.values(), default=0) / avg, 3) if avg else 0.0,
        "files": len(snap.files),
        "max_files_per_list": max(fcounts.values(), default=0),
    }
