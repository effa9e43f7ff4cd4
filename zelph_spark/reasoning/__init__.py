from .compiler import bind_condition, compile_rule_body, evaluate_query, project_consequence
from .fixpoint import (
    FixpointResult,
    contradiction_sweep,
    evaluate_contradictions,
    run_fixpoint,
    verify_fixpoint,
)

__all__ = [
    "bind_condition",
    "compile_rule_body",
    "evaluate_query",
    "project_consequence",
    "FixpointResult",
    "contradiction_sweep",
    "evaluate_contradictions",
    "run_fixpoint",
    "verify_fixpoint",
]
