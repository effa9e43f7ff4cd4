from .compiler import bind_condition, compile_rule_body, evaluate_query, project_consequence
from .fixpoint import FixpointResult, evaluate_contradictions, run_fixpoint, verify_fixpoint

__all__ = [
    "bind_condition",
    "compile_rule_body",
    "evaluate_query",
    "project_consequence",
    "FixpointResult",
    "evaluate_contradictions",
    "run_fixpoint",
    "verify_fixpoint",
]
