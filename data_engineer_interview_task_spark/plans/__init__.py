from .tuning import prep_session, prep_worker, explain_str

__all__ = ["prep_session", "prep_worker", "explain_str"]
