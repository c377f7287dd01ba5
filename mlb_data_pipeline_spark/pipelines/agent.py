"""Entry point C — the agent-framework pipeline as deterministic dataflow.

Reference: agent_framework/orchestrator.py:147-425 — an LLM planning
loop producing a ``PodcastTaskPlan`` struct (:37-55), conditional
dispatch to specialized agents (:337-396), then synthesis. ~1,850 LoC
of LangChain glue reduces to: a prompt-template operator, the U6
LLM-call operator (mocked by default), U5 parse-explode of the plan's
``key: value`` text form, and driver-side conditional dispatch over
DataFrames.

The reference's dispatch has a nesting bug (orchestrator.py:366-382
nests the GameAnalysis/FanReaction branches inside the News branch,
fixed in orchestrator2.py:262-279); we implement the evident intent —
independent dispatch — per SURVEY §7.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import extract_field
from ..operators.enrich import MockLLMClient, llm_enrich
from ..session import local_frame

SPECIALIZED_AGENTS = ("news", "game_analysis", "fan_reaction")

_PLAN_SCHEMA = (
    "topic STRING, focus STRING, agents ARRAY<STRING>, sections ARRAY<STRING>, "
    "config MAP<STRING,STRING>"
)


def create_plan(spark: SparkSession, topic: str, focus: str, client_factory=MockLLMClient) -> DataFrame:
    """Plan step: one LLM call -> ``key: value`` text -> typed plan
    struct (PodcastTaskPlan semantics, orchestrator.py:37-55 /
    parse :201-248). The mock completion is deterministic, so the parse
    path is exercised on stable input: we parse the PROMPT echo, which
    carries the structured fields."""
    seed = local_frame(
        spark,
        [(f"Topic: {topic}\nFocus: {focus}\nAgents: {','.join(SPECIALIZED_AGENTS)}\nSections: intro,body,outro",)],
        "prompt STRING",
    )
    planned = llm_enrich(seed, "prompt", out_col="plan_text", client_factory=client_factory)
    # key:value extraction (T6) from the structured prompt (the mock echoes
    # a digest; fields are parsed from the canonical prompt text itself)
    return planned.select(
        extract_field("prompt", "Topic").alias("topic"),
        extract_field("prompt", "Focus").alias("focus"),
        F.split(extract_field("prompt", "Agents"), ",").alias("agents"),
        F.split(extract_field("prompt", "Sections"), ",").alias("sections"),
        F.create_map(F.lit("model"), F.lit("mock"), F.lit("max_sections"), F.lit("3")).alias("config"),
        F.col("plan_text"),
    )


def execute_plan(spark: SparkSession, plan: DataFrame, client_factory=MockLLMClient) -> DataFrame:
    """Dispatch step: one enrichment call per agent the plan requested —
    independent branches (the reference's *intended* semantics), driven
    by exploding the plan's agents array rather than if/elif chains."""
    tasks = plan.select("topic", "focus", F.explode("agents").alias("agent"))
    prompts = tasks.withColumn(
        "prompt",
        F.concat(F.col("agent"), F.lit(" report on "), F.col("topic"), F.lit(" focusing on "), F.col("focus")),
    )
    return llm_enrich(prompts, "prompt", out_col="section_text", client_factory=client_factory)


def synthesize_script(sections: DataFrame) -> DataFrame:
    """Synthesis step: gathered agent outputs -> one ordered script
    (specialized_agents.py:264-347 context build + script)."""
    return sections.groupBy("topic").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct(F.col("agent"), F.col("section_text")))).getField("section_text"),
            "\n\n",
        ).alias("script"),
        F.count("*").alias("n_sections"),
    )


def agent_pipeline(spark: SparkSession, topic: str, focus: str, client_factory=MockLLMClient) -> DataFrame:
    plan = create_plan(spark, topic, focus, client_factory)
    sections = execute_plan(spark, plan, client_factory)
    return synthesize_script(sections)
