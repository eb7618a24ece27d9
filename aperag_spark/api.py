"""User-facing facade: the reference's `LightRAG` surface (insert / query /
delete / edit / export — aperag/graph/lightrag/lightrag.py) re-expressed
over the Spark operator library. A user of the reference drives their
workflow through these same verbs:

    engine = KGEngine(spark, out_dir)
    engine.insert(pages_df)                       # ainsert, lightrag.py:571-687
    ctx = engine.query("q", mode="hybrid")        # aquery,  lightrag.py:840-884
    engine.fulltext_search(["kw1", "kw2"])        # fulltext_index.py:198-233
    engine.delete_documents([url])                # adelete_by_doc_id, :889-1015
    engine.rename_entity("A", "B")                # aedit_entity, utils_graph.py:150-252
    engine.export_for_kg_eval()                   # lightrag.py:1128-1280

Everything returns DataFrames (lazy plans); nothing collects to the driver.
The graph tables live as checkpointed pipeline stages under `out_dir`
(resumable, manifest-gated — plans/stages.py); vdbs and the fulltext index
are derived lazily and cached per instance. A verb that replaces a table
releases the checkpoints it supersedes, so frames taken from an engine
before a verb are not to be read after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class KGEngine:
    def __init__(self, spark: SparkSession, out_dir: str, workspace: str = ""):
        self.spark = spark
        self.workspace = workspace
        # tenant isolation as a PARTITION PATH (SURVEY §1.1): a non-empty
        # workspace roots every stage table under workspace=<ws>/ (the Hive
        # partition-column convention), so two tenants sharing one engine
        # out_dir have physically disjoint subtrees — maintenance in one
        # workspace cannot touch the other's bytes by construction. The
        # workspace also salts every content hash (compute_mdhash_id), so
        # ids are disjoint even for identical input pages.
        import os

        self.out_dir = (
            os.path.join(out_dir, f"workspace={workspace}") if workspace else out_dir
        )
        self._tables: dict[str, DataFrame] = {}
        self._vdbs: dict[str, DataFrame] = {}
        self._ft_index = None

    # -- indexing ---------------------------------------------------------

    def insert(self, pages: DataFrame, input_fingerprint: str = "") -> dict:
        """Index a pages batch end-to-end (extract → chunk → extract triples
        → merge → link → canonicalize), materializing resumable stages.
        Repeated calls with the same fingerprint resume/no-op."""
        from aperag_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            self.spark,
            pages,
            self.out_dir,
            workspace=self.workspace,
            input_fingerprint=input_fingerprint,
        )
        superseded = list(self._tables.values())
        self._tables = dict(res)
        self._release(superseded, fulltext=True)
        return {k: v for k, v in res.items()}

    def _commit(self, tables: dict[str, DataFrame], fulltext: bool = False) -> None:
        """Install a verb's rebuilt tables: checkpoint every one of them, then
        release what they supersede (`_release`)."""
        new = {name: df.localCheckpoint() for name, df in tables.items()}
        superseded = [self._tables[name] for name in new if name in self._tables]
        self._tables.update(new)
        self._release(superseded, fulltext)

    def _release(self, superseded: list[DataFrame], fulltext: bool) -> None:
        """Free the blocks of superseded tables and of the vdbs (and, with
        `fulltext`, the fulltext index) derived from them, and drop those
        caches. The replacements no longer read them (an eager checkpoint
        or a stage re-read), but a frame taken from this engine before the
        change must not be read after it."""
        from aperag_spark.session import release

        frames = superseded + list(self._vdbs.values())
        if fulltext:
            for idx in (self._ft_index or {}).values():
                frames += idx.values()
            self._ft_index = None
        for df in frames:
            release(df)
        self._vdbs.clear()

    def _table(self, name: str) -> DataFrame:
        """Stage `name` of this engine's graph: the frame of the last
        insert/edit, else the manifest-gated stage table on disk."""
        if name not in self._tables:
            from aperag_spark.plans.stages import read_stage

            self._tables[name] = read_stage(self.spark, self.out_dir, name)
        return self._tables[name]

    @property
    def entities(self) -> DataFrame:
        return self._table("entities_canonical")

    @property
    def relations(self) -> DataFrame:
        return self._table("relations_canonical")

    @property
    def chunks(self) -> DataFrame:
        return self._table("chunks")

    # -- retrieval --------------------------------------------------------

    def _vdb(self, kind: str) -> DataFrame:
        if kind not in self._vdbs:
            from aperag_spark.operators.vectors import (
                embed_column,
                entity_vdb,
                relation_vdb,
            )
            import pyspark.sql.functions as F

            if kind == "entity":
                df = entity_vdb(self.entities)
            elif kind == "relation":
                df = relation_vdb(self.relations)
            else:  # chunk vdb — V5/Q9 shape
                df = embed_column(
                    self.chunks.select(F.col("chunk_id").alias("id"), "content"),
                    "content",
                )
            self._vdbs[kind] = df.localCheckpoint()
        return self._vdbs[kind]

    def query(
        self,
        text: str,
        mode: str = "global",
        top_k: int = 60,
        token_budget: int = 4000,
    ) -> dict:
        """All six reference modes (base.py:66-73). Returns the context
        frames ({'entities','relations','chunks'[, 'prompt']}) — the
        only_need_context=True form; the LLM response step is out of scope
        by design (the context IS the retrieval system's output)."""
        from aperag_spark.operators.context import kg_query_context

        return kg_query_context(
            text,
            mode,
            self.entities,
            self.relations,
            self.chunks,
            self._vdb("entity"),
            self._vdb("relation"),
            top_k=top_k,
            token_budget=token_budget,
            chunk_vdb_df=self._vdb("chunk") if mode in ("naive", "mix") else None,
        )

    def query_prompt(
        self,
        text: str,
        mode: str = "global",
        top_k: int = 60,
        token_budget: int = 4000,
        response_type: str | None = None,
        history: str = "",
        user_prompt: str | None = None,
        conversation_history: list[dict] | None = None,
        history_turns: int = 3,
    ) -> str:
        """The only_need_prompt=True form (operate.py:952-953): context
        frames rendered into the reference's JSON blocks and rag_response
        system prompt (prompt.py:241-273), stopping at the LLM boundary."""
        from aperag_spark.operators.render import (
            DEFAULT_RESPONSE_TYPE,
            DEFAULT_USER_PROMPT,
            render_rag_prompt,
        )

        ctx = self.query(text, mode=mode, top_k=top_k, token_budget=token_budget)
        return render_rag_prompt(
            text,
            ctx,
            response_type=response_type or DEFAULT_RESPONSE_TYPE,
            history=history,
            user_prompt=user_prompt or DEFAULT_USER_PROMPT,
            conversation_history=conversation_history,
            history_turns=history_turns,
        )

    def fulltext_search(
        self, keywords: list[str], topk: int = 3, cjk: bool = False
    ) -> DataFrame:
        """BM25 search over the chunk index (fulltext_index.py:198-233);
        cjk=True analyzes both index and query with the CJK bigram
        analyzer (ik_max_word/ik_smart stand-in)."""
        import pyspark.sql.functions as F

        from aperag_spark.operators.fulltext import bm25_search, build_fulltext_index

        key = "cjk" if cjk else "std"
        if self._ft_index is None:
            self._ft_index = {}
        if key not in self._ft_index:
            chunks = self.chunks
            if cjk:
                chunks = chunks.withColumn("_lang", F.lit("zh"))
                idx = build_fulltext_index(
                    chunks, id_col="chunk_id", text_col="content", lang_col="_lang"
                )
            else:
                idx = build_fulltext_index(chunks, id_col="chunk_id", text_col="content")
            self._ft_index[key] = {k: v.localCheckpoint() for k, v in idx.items()}
        return bm25_search(self._ft_index[key], keywords, topk=topk, cjk=cjk)

    # -- maintenance ------------------------------------------------------

    def delete_documents(self, urls: list[str]) -> None:
        """Unindex pages by url: re-aggregate from surviving mentions and
        re-link (adelete_by_doc_id, lightrag.py:889-1015)."""
        from aperag_spark.operators.linking import build_alias_map, canonicalize
        from aperag_spark.operators.maintenance import delete_documents

        entities, relations = delete_documents(self._table("mentions"), urls)
        alias_map = build_alias_map(entities)
        ents_c, rels_c = canonicalize(entities, relations, alias_map)
        self._commit(
            {"entities_canonical": ents_c, "relations_canonical": rels_c}, fulltext=True
        )

    def rename_entity(self, old_name: str, new_name: str) -> None:
        from aperag_spark.operators.maintenance import rename_entity

        ents, rels = rename_entity(self.entities, self.relations, old_name, new_name)
        self._commit({"entities_canonical": ents, "relations_canonical": rels})

    def delete_entity(self, name: str) -> None:
        from aperag_spark.operators.maintenance import delete_entity

        ents, rels = delete_entity(self.entities, self.relations, name)
        self._commit({"entities_canonical": ents, "relations_canonical": rels})

    # -- M14 curation verbs (utils_graph.py manual-editing API) -----------

    def create_entity(self, entity_name: str, entity_data: dict | None = None) -> None:
        """acreate_entity (utils_graph.py:404-445)."""
        from aperag_spark.operators.maintenance import create_entity

        ents = create_entity(self.entities, entity_name, entity_data or {})
        self._commit({"entities_canonical": ents})

    def edit_entity(
        self, entity_name: str, updated_data: dict, allow_rename: bool = True
    ) -> None:
        """aedit_entity (utils_graph.py:108-276): attribute update; a
        changed entity_name renames, refusing if the new name exists
        (rename_entity() is the merge-into-existing variant)."""
        from aperag_spark.operators.maintenance import edit_entity

        ents, rels = edit_entity(
            self.entities, self.relations, entity_name, updated_data, allow_rename
        )
        self._commit({"entities_canonical": ents, "relations_canonical": rels})

    def create_relation(
        self, source_entity: str, target_entity: str, relation_data: dict | None = None
    ) -> None:
        """acreate_relation (utils_graph.py:447-545)."""
        from aperag_spark.operators.maintenance import create_relation

        rels = create_relation(
            self.entities, self.relations, source_entity, target_entity, relation_data or {}
        )
        self._commit({"relations_canonical": rels})

    def edit_relation(
        self, source_entity: str, target_entity: str, updated_data: dict
    ) -> None:
        """aedit_relation (utils_graph.py:278-401)."""
        from aperag_spark.operators.maintenance import edit_relation

        rels = edit_relation(self.relations, source_entity, target_entity, updated_data)
        self._commit({"relations_canonical": rels})

    def delete_relation(self, source_entity: str, target_entity: str) -> None:
        """adelete_by_relation (utils_graph.py:68-105); missing edge = no-op."""
        from aperag_spark.operators.maintenance import delete_relation

        rels = delete_relation(self.relations, source_entity, target_entity)
        self._commit({"relations_canonical": rels})

    def merge_entities(
        self,
        source_entities: list[str],
        target_entity: str,
        merge_strategy: dict[str, str] | None = None,
        target_entity_data: dict | None = None,
    ) -> None:
        """amerge_entities (utils_graph.py:548-766) with the per-field
        merge-strategy matrix (concatenate/keep_first/keep_last/
        join_unique/max)."""
        from aperag_spark.operators.maintenance import merge_entities_curated

        ents, rels = merge_entities_curated(
            self.entities,
            self.relations,
            source_entities,
            target_entity,
            merge_strategy,
            target_entity_data,
        )
        self._commit({"entities_canonical": ents, "relations_canonical": rels})

    # -- export / introspection -------------------------------------------

    def export_for_kg_eval(self, sample_size: int = 100_000, include_source_texts: bool = True) -> dict:
        from aperag_spark.operators.export import export_for_kg_eval

        return export_for_kg_eval(
            self.entities,
            self.relations,
            self.chunks if include_source_texts else None,
            sample_size=sample_size,
            include_source_texts=include_source_texts,
        )

    def get_knowledge_graph(self, seed: str, max_depth: int = 3, max_nodes: int = 1000) -> DataFrame:
        """BFS subgraph around a label (base.py:525-538)."""
        from aperag_spark.operators.graph_query import bfs_subgraph

        return bfs_subgraph(self.relations, seed, max_depth=max_depth, max_nodes=max_nodes)


class CorpusEngine:
    """Corpus-build facade — the training-data sibling of KGEngine: drive
    the staged dedup/quality/selection pipeline (plans/corpus.py over
    operators/corpus.py) through library verbs:

        eng = CorpusEngine(spark, out_dir)
        eng.build(docs_df)                  # minhash → candidates → clusters → verdicts
        eng.selected_docs(docs_df)          # the final training corpus
        eng.verdicts / eng.clusters / ...   # staged tables (lazy reads)
        eng.dedup_report()                  # per-stage lineage manifests

    Everything returns DataFrames; repeated build() calls with the same
    fingerprint resume/no-op (manifest-gated, byte-identical stages —
    tests/test_corpus_pipeline.py)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir

    def build(self, docs: DataFrame, input_fingerprint: str = "", upto: str = "verdicts") -> dict:
        """Run (or resume) the staged corpus pipeline over `docs`
        (doc_id, text) up to stage `upto`."""
        from aperag_spark.plans.corpus import run_corpus_pipeline

        return run_corpus_pipeline(
            self.spark,
            docs.select("doc_id", "text"),
            self.out_dir,
            input_fingerprint=input_fingerprint,
            upto=upto,
        )

    def _stage(self, name: str) -> DataFrame:
        # manifest-gated (plans/stages.read_stage), not isdir-gated: a
        # build() killed mid-write leaves a partial stage dir WITHOUT a
        # manifest — serving it would silently truncate the corpus
        from aperag_spark.plans.stages import read_stage

        return read_stage(self.spark, self.out_dir, name)

    @property
    def minhash(self) -> DataFrame:
        return self._stage("minhash")

    @property
    def candidates(self) -> DataFrame:
        return self._stage("candidates")

    @property
    def clusters(self) -> DataFrame:
        return self._stage("clusters")

    @property
    def verdicts(self) -> DataFrame:
        return self._stage("verdicts")

    def selected_docs(self, docs: DataFrame) -> DataFrame:
        """The final corpus: input docs filtered to selected=true verdicts —
        a doc_id-keyed join (co-located at scale)."""
        import pyspark.sql.functions as F

        keep = self.verdicts.where(F.col("selected")).select("doc_id")
        return docs.join(
            keep, docs["doc_id"].cast("bigint") == keep["doc_id"], "left_semi"
        )

    def dedup_report(self) -> dict:
        """Per-stage lineage manifests (rows, partitions, fingerprints)."""
        from aperag_spark.plans.stages import read_manifests

        return read_manifests(self.out_dir)
